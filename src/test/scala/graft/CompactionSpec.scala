package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.io.{Compaction, Tables}
import graft.similarity.Similarity

/** Compaction of append-grown index artifacts: same rows, same probe
  * results, fewer files, sidecars intact.
  */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("minhash index: compaction after appends preserves probe results and collapses files") {
    val docs = Tables.documents(spark, sf001)
    val path = Files.createTempDirectory("mhcompact").toString + "/index"
    Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", path)
    Dedup.appendToMinhashIndex(spark, path, docs.filter(col("doc_id") % 4 === 1), "doc_id", "text")
    Dedup.appendToMinhashIndex(spark, path, docs.filter(col("doc_id") % 4 === 2), "doc_id", "text")

    val batch = docs.filter(col("doc_id") % 4 === 3)
    def probe() = Dedup
      .incrementalLshPairs(spark, path, batch, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2))
      .toSeq

    val before = probe()
    val (bandBytes, bandFilesBefore) = Compaction.dataStats(spark, s"$path/bands")
    val (_, sketchFilesBefore) = Compaction.dataStats(spark, s"$path/sketches")
    assert(bandFilesBefore > 8, s"appends should have grown band files past one per partition ($bandFilesBefore)")
    assert(sketchFilesBefore >= 3)

    Compaction.compactMinhashIndex(spark, path)

    val (bandBytesAfter, bandFilesAfter) = Compaction.dataStats(spark, s"$path/bands")
    val (_, sketchFilesAfter) = Compaction.dataStats(spark, s"$path/sketches")
    // one file per FILLED leaf partition — (band, key_bucket) for the
    // bands leg, id_bucket for the sketches leg (bucketed layout)
    val bandLeafs = spark.read.parquet(s"$path/bands").select("band", "key_bucket").distinct().count()
    val sketchLeafs = spark.read.parquet(s"$path/sketches").select("id_bucket").distinct().count()
    assert(bandFilesAfter == bandLeafs, s"one file per band leaf expected ($bandLeafs), got $bandFilesAfter")
    assert(sketchFilesAfter == sketchLeafs, s"one file per sketch leaf expected ($sketchLeafs), got $sketchFilesAfter")
    assert(bandFilesAfter < bandFilesBefore && sketchFilesAfter < sketchFilesBefore)
    // bytes are the same order (re-encoded, not dropped)
    assert(bandBytesAfter > 0 && bandBytes > 0)

    // the config sidecar survived and the probe is value-identical
    assert(Dedup.readMinhashConfig(spark, path) == ((3, 16, 8)))
    assert(probe() == before)
    assert(before.nonEmpty)
  }

  test("index compaction is crash-recoverable: fabricated mid-swap states resolve and the probe is identical") {
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sf001)
    val path = Files.createTempDirectory("mhcrash").toString + "/index"
    Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", path)
    Dedup.appendToMinhashIndex(spark, path, docs.filter(col("doc_id") % 3 === 1), "doc_id", "text")

    val batch = docs.filter(col("doc_id") % 3 === 2)
    def probe() = Dedup
      .incrementalLshPairs(spark, path, batch, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2))
      .toSeq
    val before = probe()
    assert(before.nonEmpty)

    // fabricate every reachable crash state of the per-leaf protocol on
    // REAL leaves of the nested bands tree:
    //  (a) crash between the two renames — leaf absent, COMPLETE tmp
    //      present (the live leaf renamed to its hidden tmp name IS that
    //      state: tmp is complete by construction);
    //  (b) the defensive old-only state — leaf moved aside, no tmp;
    //  (c) a garbage staging tree from a crashed batched wave.
    val bands = new Path(s"$path/bands")
    val fs = bands.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bandDirs = fs.listStatus(bands).map(_.getPath).filter(_.getName.startsWith("band=")).sortBy(_.getName)
    assert(bandDirs.length >= 2, "need two band dirs to fabricate both crash states")
    def leafOf(band: Path) =
      fs.listStatus(band).map(_.getPath).filter(_.getName.startsWith("key_bucket=")).minBy(_.getName)
    val leafA = leafOf(bandDirs(0))
    val leafB = leafOf(bandDirs(1))
    assert(fs.rename(leafA, new Path(leafA.getParent, s"._cmp_${leafA.getName}")))
    assert(fs.rename(leafB, new Path(leafB.getParent, s"._oldcmp_${leafB.getName}")))
    fs.mkdirs(new Path(bands, "._cmpstage_crashed"))

    // compaction's first act is the recovery walk — both leaves come
    // back, the stage garbage goes, then the rewrite proceeds
    Compaction.compactMinhashIndex(spark, path)

    assert(fs.exists(leafA) && fs.exists(leafB), "recovery did not restore the mid-swap leaves")
    val helpers = fs.listStatus(bands).map(_.getPath.getName) ++
      bandDirs.flatMap(d => fs.listStatus(d).map(_.getPath.getName))
    assert(!helpers.exists(n => n.startsWith("._cmp") || n.startsWith("._oldcmp")), s"helper state survived: ${helpers.mkString(",")}")
    assert(probe() == before, "probe diverged after crash recovery + compaction")
    // and the compaction itself happened: one file per leaf
    val (_, bandFiles) = Compaction.dataStats(spark, s"$path/bands")
    val bandLeafs = spark.read.parquet(s"$path/bands").select("band", "key_bucket").distinct().count()
    assert(bandFiles == bandLeafs, s"expected one file per leaf ($bandLeafs), got $bandFiles")
  }

  test("randomized multi-leaf crash states: any seeded combination of swap states recovers with identical probes") {
    import org.apache.hadoop.fs.Path
    import scala.util.Random
    val docs = Tables.documents(spark, sf001)
    val path = Files.createTempDirectory("mhfuzz").toString + "/index"
    Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", path)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    def probe() = Dedup
      .incrementalLshPairs(spark, path, batch, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2))
      .toSeq
    val before = probe()
    assert(before.nonEmpty)

    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(tree: String): Seq[Path] = {
      val root = new Path(s"$path/$tree")
      fs.listStatus(root).map(_.getPath).flatMap { p =>
        if (p.getName.startsWith("_")) Seq.empty[Path]
        else if (fs.listStatus(p).exists(_.getPath.getName.startsWith("key_bucket=")))
          fs.listStatus(p).map(_.getPath).filter(_.getName.startsWith("key_bucket=")).toSeq
        else Seq(p)
      }.toSeq.sortBy(_.toString)
    }
    (1 to 3).foreach { trial =>
      val rng = new Random(100 + trial)
      // the deterministic sweep covers each state singly; here a seeded
      // RANDOM SUBSET of leaves across both trees lands in a random
      // reachable state simultaneously (multi-leaf crash combinations)
      Seq("bands", "sketches").foreach { tree =>
        leaves(tree).foreach { leaf =>
          rng.nextInt(3) match {
            case 0 => assert(fs.rename(leaf, new Path(leaf.getParent, s"._cmp_${leaf.getName}")))
            case 1 => assert(fs.rename(leaf, new Path(leaf.getParent, s"._oldcmp_${leaf.getName}")))
            case _ => () // leaf untouched this trial
          }
        }
        fs.mkdirs(new Path(s"$path/$tree/._cmpstage_crash$trial"))
      }
      Compaction.compactMinhashIndex(spark, path)
      assert(probe() == before, s"trial $trial: probe diverged after randomized crash recovery")
      val helperLeft = Seq("bands", "sketches").flatMap { tree =>
        fs.listStatus(new Path(s"$path/$tree")).flatMap { st =>
          val self = if (st.getPath.getName.startsWith("._")) Seq(st.getPath) else Seq.empty
          val kids =
            if (st.isDirectory && !st.getPath.getName.startsWith("_"))
              fs.listStatus(st.getPath).map(_.getPath).filter(_.getName.startsWith("._")).toSeq
            else Seq.empty
          self ++ kids
        }
      }
      assert(helperLeft.isEmpty, s"trial $trial: helper state survived recovery: ${helperLeft.mkString(",")}")
    }
  }

  test("appends are recovery-safe: an append to a mid-swap tree restores the hidden leaf instead of stranding it") {
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sf001)
    val path = Files.createTempDirectory("mhappendcrash").toString + "/index"
    Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", path)

    // full index content = what a later probe depends on
    def sketchIds() = spark.read.parquet(s"$path/sketches").select("id").as[Long].collect().toSet
    val seeded = sketchIds()

    // fabricate the crash-between-renames state on a sketches leaf:
    // leaf absent, complete hidden tmp holding its rows
    val sketches = new Path(s"$path/sketches")
    val fs = sketches.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leaf = fs.listStatus(sketches).map(_.getPath).filter(_.getName.startsWith("id_bucket=")).minBy(_.getName)
    assert(fs.rename(leaf, new Path(leaf.getParent, s"._cmp_${leaf.getName}")))

    // a DIRECT append with no manual recovery: the writer invariant
    // says this must resolve the swap first — without it, the append
    // would recreate the leaf and the next recovery would GC the tmp
    // (silently losing the leaf's pre-crash rows)
    Dedup.appendToMinhashIndex(spark, path, docs.filter(col("doc_id") % 3 === 1), "doc_id", "text")
    Compaction.compactMinhashIndex(spark, path)

    val afterIds = sketchIds()
    assert(seeded.subsetOf(afterIds), s"pre-crash rows lost: ${(seeded -- afterIds).take(5)}")
    assert(afterIds.size > seeded.size, "append itself landed")
  }

  test("ivf index: compaction preserves the partition-pruned probe and the centroid sidecar") {
    val emb = Tables.embeddings(spark, sf001)
    val half1 = emb.filter($"vec_id" % 2 === 0)
    val half2 = emb.filter($"vec_id" % 2 === 1)
    val model = Similarity.kmeansCentroids(half1, "vec_id", "embedding", k = 16)
    val path = Files.createTempDirectory("ivfcompact").toString + "/index"
    Similarity.writeIvfIndex(half1, "vec_id", "embedding", path, nCentroids = 16, centroidModel = Some(model))
    Similarity.appendToIvfIndex(spark, path, half2, "vec_id", "embedding")

    val queries = emb.filter($"vec_id" < 3)
    def probe() = Similarity
      .ivfTopKIndexed(spark, path, queries, "vec_id", "embedding", k = 5, nProbe = 2)
      .orderBy("query_id", "nbr_id")
      .collect()
      .toSeq

    val before = probe()
    val modelBefore = Similarity.readIvfCentroids(spark, path).map { case (c, v) => (c, v.toSeq) }.toSeq
    val (_, filesBefore) = Compaction.dataStats(spark, path)

    Compaction.compactIvfIndex(spark, path)

    val (_, filesAfter) = Compaction.dataStats(spark, path)
    assert(filesAfter < filesBefore, s"expected fewer files, $filesBefore -> $filesAfter")
    assert(Similarity.readIvfCentroids(spark, path).map { case (c, v) => (c, v.toSeq) }.toSeq == modelBefore)
    assert(probe() == before)
    assert(before.nonEmpty)
  }

  test("latest table: compaction after merges preserves content + bucket pruning and collapses files") {
    import graft.io.LatestUpsert
    val ev = Tables
      .events(spark, sf0001)
      .select("user_id", "event_id", "ts_us", "event_type", "value")
    val root = Files.createTempDirectory("latestcompact").toString + "/t"
    // steady-state file hygiene is by construction (one writing task per
    // touched bucket per generation), so model an over-split bucket the
    // way Spark itself produces one: a records-per-file cap
    Sessions.withConf(spark, "spark.sql.files.maxRecordsPerFile" -> "2") {
      LatestUpsert.init(
        spark, root, ev.filter(col("event_id") % 5 === 0),
        keyCols = Seq("user_id", "event_type"), orderCols = Seq("ts_us", "event_id"), buckets = 8)
      (1 to 4).foreach(i => LatestUpsert.upsert(spark, root, ev.filter(col("event_id") % 5 === i)))
    }

    def snap() = LatestUpsert.read(spark, root).collect().map(_.toSeq).toSet
    def currentFiles() = LatestUpsert.bucketFileCounts(spark, root).values.sum
    val before = snap()
    val filesBefore = currentFiles()
    assert(filesBefore > 8, s"capped merges over 8 buckets should exceed one file per bucket ($filesBefore)")

    Compaction.compactLatestTable(spark, root)

    val filesAfter = currentFiles()
    assert(filesAfter <= 8, s"compaction left $filesAfter files for 8 buckets")
    assert(snap() == before, "compaction changed the latest table's content")
    // bucket layout survived: a post-compaction merge still lists only
    // the touched bucket's directory (path-level pruning)
    val oneUser = ev.orderBy("user_id", "event_type").limit(1)
      .select("user_id", "event_type").as[(Long, String)].head()
    val oneKey = ev.filter(col("user_id") === oneUser._1 && col("event_type") === oneUser._2)
    LatestUpsert.withMergedForBatch(spark, root, oneKey) { (merged, touched) =>
      assert(touched.size == 1)
      val scans = fileScans(merged)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains("latestcompact")))
      assert(
        scans.nonEmpty && scans.forall(
          _.relation.location.rootPaths.forall(_.toString.endsWith(s"kb=${touched.head}"))),
        "post-compaction merge listed more than the touched bucket dir")
    }.getOrElse(fail("one-key batch staged no merge"))
    // and the sidecar still describes the layout (upsert would throw without it)
    LatestUpsert.upsert(spark, root, oneKey)
    assert(snap() == before, "replayed rows changed latest content")
  }

  test("zvalue: interleaves bits, rejects configs wider than a long") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 3L)).toDF("x", "y")
    // 2 bits per column over [0,3]: rank == value, so z is the textbook
    // 4x4 Morton table — x in even bit positions, y in odd
    val z = df
      .select($"x", $"y", Compaction.zvalue(Seq($"x", $"y"), Seq((0.0, 3.0), (0.0, 3.0)), 2).as("z"))
      .as[(Long, Long, Long)]
      .collect()
      .map { case (x, y, zz) => (x, y) -> zz }
      .toMap
    assert(z((0L, 0L)) == 0L)
    assert(z((1L, 0L)) == 1L)
    assert(z((0L, 1L)) == 2L)
    assert(z((3L, 3L)) == 15L)
    assert(intercept[IllegalArgumentException] {
      Compaction.zvalue(Seq($"x", $"y"), Seq((0.0, 1.0), (0.0, 1.0)), 32)
    }.getMessage.contains("63"))
  }

  test("clustered compaction: same rows, narrow per-file spans on BOTH cluster columns") {
    // two independent uniform columns: a hash-scattered write gives every
    // file the full min..max span of both, the worst case for footer
    // statistics — nothing prunes
    val n = 40000
    val df = spark
      .range(n)
      .select(
        (col("id") % 200).as("x"),
        ((col("id") * 7919) % 200).as("y"),
        col("id").as("payload")
      )
    val dir = Files.createTempDirectory("zcompact").toString + "/t"
    df.repartition(48).write.parquet(dir)

    // per-file average span of a column, in [0,1] of the global range:
    // ~1.0 = useless stats, small = a selective filter skips most files
    def avgSpan(c: String): Double = {
      val spans = spark.read
        .parquet(dir)
        .groupBy(input_file_name())
        .agg((max(col(c)) - min(col(c))).cast("double").as("span"))
        .select("span")
        .as[Double]
        .collect()
      spans.sum / spans.length / 199.0
    }
    assert(avgSpan("x") > 0.9 && avgSpan("y") > 0.9, "precondition: scattered layout has full-range files")
    val before = df.as[(Long, Long, Long)].collect().sorted.toSeq

    // ~16 files: a contiguous Morton segment of 1/k of the curve covers
    // ~sqrt(1/k) of EACH dimension, so spans only sharpen with file count
    val (bytes, _) = Compaction.dataStats(spark, dir)
    Compaction.compactClustered(spark, dir, Seq("x", "y"), targetFileBytes = math.max(1L, bytes / 16))

    val after = spark.read.parquet(dir).as[(Long, Long, Long)].collect().sorted.toSeq
    assert(after == before, "clustered rewrite must preserve the exact multiset of rows")
    val (_, files) = Compaction.dataStats(spark, dir)
    assert(files >= 12, s"need a multi-file layout to claim clustering ($files)")
    // the Z-curve property: BOTH columns' per-file spans narrow at once
    // (a plain sort on x would leave y's span at ~1.0); sqrt(1/16)=0.25
    // ideal, boundary-straddling segments land somewhat above it
    val (sx, sy) = (avgSpan("x"), avgSpan("y"))
    assert(sx <= 0.5, s"x span $sx did not narrow")
    assert(sy <= 0.5, s"y span $sy did not narrow")
  }
}
