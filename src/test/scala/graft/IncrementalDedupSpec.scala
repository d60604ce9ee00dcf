package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.io.Tables

/** The materialized MinHash dedup index and its incremental probe.
  *
  * The load-bearing contract: `incrementalLshPairs(batch, index(corpus))`
  * equals `minhashLshPairs(corpus ∪ batch)` restricted to pairs with at
  * least one side in the batch — i.e. the increment flow loses NOTHING
  * versus re-running the full self-join, while never re-scanning the
  * corpus text. Pinned here against the real sf0.01 documents table
  * (the corpus the d9 oracle checks at verify time), plus an append →
  * second-increment round to prove the index composes over time.
  */
class IncrementalDedupSpec extends SparkSpec {

  private def pairsTouching(full: DataFrame, batchIds: Set[Long]): Seq[(Long, Long, Double)] =
    full
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => batchIds.contains(a) || batchIds.contains(b) }
      .sortBy(p => (p._1, p._2))
      .toSeq

  private def collected(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2)).toSeq

  test("incremental pairs == full-batch pairs restricted to the increment (sf0.01 documents)") {
    val docs = Tables.documents(spark, sf001)
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val path = Files.createTempDirectory("mhindex").toString + "/index"

    Dedup.writeMinhashIndex(corpus, "doc_id", "text", path, n = 3, k = 16, bands = 8)
    val incremental = collected(
      Dedup.incrementalLshPairs(spark, path, batch, "doc_id", "text", threshold = 0.3)
    )

    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = pairsTouching(
      Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3, k = 16, bands = 8, threshold = 0.3),
      batchIds
    )
    assert(incremental == expected)
    // the corpus has near-dups spanning the split, so the contract is
    // exercised, not vacuous
    assert(incremental.nonEmpty)
    assert(incremental.exists { case (a, b, _) => a % 3 != 0 || b % 3 != 0 })
  }

  test("append composes: a second increment against the appended index equals the restricted recompute") {
    val docs = Tables.documents(spark, sf001)
    val corpus = docs.filter(col("doc_id") % 3 === 1)
    val first = docs.filter(col("doc_id") % 3 === 2)
    val second = docs.filter(col("doc_id") % 3 === 0)
    val path = Files.createTempDirectory("mhindex2").toString + "/index"

    Dedup.writeMinhashIndex(corpus, "doc_id", "text", path, n = 3, k = 16, bands = 8)
    Dedup.appendToMinhashIndex(spark, path, first, "doc_id", "text")

    val incremental = collected(
      Dedup.incrementalLshPairs(spark, path, second, "doc_id", "text", threshold = 0.3)
    )
    val secondIds = second.select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = pairsTouching(
      Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3, k = 16, bands = 8, threshold = 0.3),
      secondIds
    )
    assert(incremental == expected)
    assert(incremental.nonEmpty)
  }

  test("the batch side of the index probe broadcasts (corpus never shuffles)") {
    val docs = Tables.documents(spark, sf001)
    val path = Files.createTempDirectory("mhindex3").toString + "/index"
    Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", path)
    val probe = Dedup.incrementalLshPairs(spark, path, docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
    // the explicit broadcast() hint must survive to the optimized plan:
    // the cross-candidate join keys the corpus side only through a
    // BroadcastHashJoin, never an Exchange of the index rows
    val plan = probe.queryExecution.optimizedPlan.toString
    assert(plan.contains("ResolvedHint") || probe.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"))
  }

  test("released pairs leave no persistent RDD behind: the banded pin is freed inside the probe") {
    val docs = Tables.documents(spark, sf0001)
    val path = Files.createTempDirectory("mhindex5").toString + "/index"
    Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", path)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Dedup.incrementalLshPairs(spark, path, docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
    pairs.collect()
    Checkpoints.release(pairs, blocking = true)
    val left = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
    assert(left.isEmpty, s"persistent RDDs left after release: ${left.values.map(_.toDebugString).mkString("\n")}")
  }

  test("novelOnly: exact incremental novelty with null-safe fingerprints") {
    import spark.implicits._
    val corpus = Seq((1L, "the cat sat"), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val batch = Seq(
      (30L, "the cat sat"),     // seen verbatim → dropped
      (31L, " The  CAT   sat "), // seen after normalization → dropped
      (32L, null.asInstanceOf[String]), // corpus has a NULL-text doc → dropped
      (33L, "a brand new doc")  // novel → kept
    ).toDF("doc_id", "text")
    val path = Files.createTempDirectory("fpindex").toString + "/index"
    Dedup.writeFingerprintIndex(corpus, "text", path)
    val novel = Dedup.novelOnly(spark, path, batch, "text").select("doc_id").as[Long].collect().toSeq
    assert(novel == Seq(33L))
  }

  test("novelOnlyPre over a precomputed fingerprint equals novelOnly, nulls included") {
    import spark.implicits._
    val corpus = Seq((1L, "the cat sat"), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val batch = Seq(
      (30L, "the cat sat"),              // seen verbatim → dropped
      (31L, " The  CAT   sat "),         // seen after normalization → dropped
      (32L, null.asInstanceOf[String]),  // NULL fingerprints match null-safely → dropped
      (33L, "a brand new doc")           // novel → kept
    ).toDF("doc_id", "text")
    val path = Files.createTempDirectory("fpindexpre").toString + "/index"
    Dedup.writeFingerprintIndex(corpus, "text", path)
    val pre = batch.withColumn("__fp", graft.text.TextOps.fingerprint(col("text")))
    val got = Dedup.novelOnlyPre(spark, path, pre, "__fp")
      .select("doc_id").as[Long].collect().toSeq.sorted
    val want = Dedup.novelOnly(spark, path, batch, "text")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(got == want)
    assert(got == Seq(33L))
  }

  test("batchSignaturesStaged equals batchSignatures leg for leg") {
    val docs = Tables.documents(spark, sf0001).limit(50)
    val path = Files.createTempDirectory("sigstaged").toString + "/index"
    Dedup.writeMinhashIndex(docs, "doc_id", "text", path, n = 3, k = 16, bands = 8)
    val (h1, b1) = Dedup.batchSignatures(spark, path, docs, "doc_id", "text")
    val (h2, b2) = Dedup.batchSignaturesStaged(spark, path, docs, "doc_id", "text")
    assert(h1.select("id", "shh").collect().map(_.toString).sorted
      .sameElements(h2.select("id", "shh").collect().map(_.toString).sorted))
    assert(b1.select("id", "band", "band_key").collect().map(_.toString).sorted
      .sameElements(b2.select("id", "band", "band_key").collect().map(_.toString).sorted))
    graft.Checkpoints.release(h2)
  }

  test("novelOnly keeps NULL-text batch rows when the corpus has none") {
    import spark.implicits._
    val corpus = Seq((1L, "the cat sat")).toDF("doc_id", "text")
    val batch = Seq((40L, null.asInstanceOf[String]), (41L, "the cat sat")).toDF("doc_id", "text")
    val path = Files.createTempDirectory("fpindex2").toString + "/index"
    Dedup.writeFingerprintIndex(corpus, "text", path)
    val novel = Dedup.novelOnly(spark, path, batch, "text").select("doc_id").as[Long].collect().toSeq
    assert(novel == Seq(40L))
  }

  test("novelOnly prunes the fingerprint index scan to the batch's touched buckets") {
    val docs = Tables.documents(spark, sf0001)
    val path = Files.createTempDirectory("fpprune").toString + "/index"
    Dedup.writeFingerprintIndex(docs, "text", path)
    val totalBuckets = fileScans(spark.read.parquet(path).select("fingerprint"))
      .head.selectedPartitions.partitionCount
    assert(totalBuckets > 4, s"corpus spread over only $totalBuckets buckets — pruning unprovable")
    // a 2-doc batch touches ≤ 2 buckets of the many the corpus fills
    val batch = docs.filter(col("doc_id").isin(1L, 2L))
    val novel = Dedup.novelOnly(spark, path, batch, "text")
    val indexScans = fileScans(novel).filter(_.metadata.getOrElse("Location", "").contains("fpprune"))
    assert(indexScans.nonEmpty, "no scan over the fingerprint index found")
    indexScans.foreach { s =>
      assert(s.metadata.getOrElse("PartitionFilters", "").contains("fp_bucket"),
        s"no fp_bucket partition filter: ${s.metadata.getOrElse("PartitionFilters", "")}")
      assert(s.selectedPartitions.partitionCount <= 2,
        s"guard read ${s.selectedPartitions.partitionCount} buckets for a 2-doc batch")
    }
    // the pruned guard still gates correctly: both batch docs are
    // verbatim corpus members, so neither is novel
    assert(novel.isEmpty)
  }

  test("incremental probe prunes BOTH index legs to the batch's touched sub-buckets") {
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val path = Files.createTempDirectory("mhprune").toString + "/index"
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", path)
    def partsOf(p: String): Int =
      fileScans(spark.read.parquet(p).select("id")).head.selectedPartitions.partitionCount
    val (bandParts, sketchParts) = (partsOf(s"$path/bands"), partsOf(s"$path/sketches"))
    assert(bandParts > 16 && sketchParts > 4,
      s"corpus fills only $bandParts band / $sketchParts sketch partitions — pruning unprovable")
    // a single-doc batch: ≤ bands distinct band keys → ≤ bands key
    // buckets; candidate ids bounded → few id buckets. The doc is
    // CHOSEN to have a planted near-dup across the split, so the
    // final found-its-pair assertion cannot be vacuously data-dependent
    val chosen = Dedup
      .minhashLshPairs(docs, "doc_id", "text", n = 3, k = 16, bands = 8, threshold = 0.3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .collectFirst {
        case (a, b) if a % 3 == 0 && b % 3 != 0 => a
        case (a, b) if b % 3 == 0 && a % 3 != 0 => b
      }
      .getOrElse(fail("sf0.001 has no near-dup pair straddling the %3 split"))
    val batch = docs.filter(col("doc_id") === chosen)
    // pin the legs on exactly the DataFrames the probe consumes (the
    // probe's candidate checkpoint hides the bands scan from its final
    // plan, so the factored legs are the observable surface)
    val keyBuckets = Dedup.readMinhashKeyBuckets(spark, path)
    val (_, bandedB) = Dedup.batchSignatures(spark, path, batch, "doc_id", "text")
    val bandsLeg = Dedup.prunedBandsLeg(spark, path, bandedB, keyBuckets)
    val bandScans = fileScans(bandsLeg).filter(_.metadata.getOrElse("Location", "").contains("/bands"))
    assert(bandScans.nonEmpty, "no bands-leg scan found")
    bandScans.foreach { s =>
      assert(s.metadata.getOrElse("PartitionFilters", "").contains("key_bucket"),
        s"bands leg unpruned: ${s.metadata.getOrElse("PartitionFilters", "")}")
      assert(s.selectedPartitions.partitionCount < bandParts,
        s"bands leg read all $bandParts partitions")
    }
    import spark.implicits._
    val candidates = Seq((chosen, chosen + 1)).toDF("id_a", "id_b")
    val sketchesLeg = Dedup.prunedSketchesLeg(spark, path, candidates, keyBuckets)
    val sketchScans = fileScans(sketchesLeg).filter(_.metadata.getOrElse("Location", "").contains("/sketches"))
    assert(sketchScans.nonEmpty, "no sketches-leg scan found")
    sketchScans.foreach { s =>
      assert(s.metadata.getOrElse("PartitionFilters", "").contains("id_bucket"),
        s"sketches leg unpruned: ${s.metadata.getOrElse("PartitionFilters", "")}")
      assert(s.selectedPartitions.partitionCount <= 2,
        s"sketches leg read ${s.selectedPartitions.partitionCount} buckets for 2 candidate ids")
    }
    // and the pruned end-to-end probe still finds the chosen doc's
    // planted cross-split pair — pruning lost no candidate
    val pairs = Dedup.incrementalLshPairs(spark, path, batch, "doc_id", "text", threshold = 0.3)
    assert(pairs.count() > 0)
  }
}
