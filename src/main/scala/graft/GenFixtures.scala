package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.queries.QueryDef
import graft.queries.Oracle.Fixture

/** Dev tool: regenerate the committed expectation fixture of one
  * fixture-checked query (m1_multimodal, m2_video_frames, s11_classify,
  * h1_health, a5_max_profit_loss) from the frame its [[Fixture]] oracle
  * declares, as one parquet file at the oracle's path (or `out`).
  *
  * Each fixture is a pure function of keys that are complete at every
  * scale factor, so it is generated once at the largest scale, sf0.1;
  * the oracle scale-filters it by joining the test tables. Regenerate
  * only when the synthesis or the computation the fixture pins changes:
  * `sbt "runMain graft.GenFixtures <query> [sfDir] [out]"`.
  */
object GenFixtures {
  def main(args: Array[String]): Unit = {
    val fixtures = SparkEntry.defs.collect { case d @ QueryDef(_, _, f: Fixture) => d.name -> f }.toMap
    val name = args.headOption.getOrElse("")
    require(fixtures.contains(name),
      s"usage: GenFixtures <query> [sfDir] [out]; query is one of ${fixtures.keys.toSeq.sorted.mkString(", ")}")
    val fixture = fixtures(name)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val outFile = Paths.get(args.lift(2).getOrElse(fixture.path))
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val tmp = Files.createTempDirectory(s"${name}_fixture").toString + "/out"
    fixture.expected(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files
      .list(Paths.get(tmp))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst()
      .orElseThrow()
    Files.createDirectories(outFile.getParent)
    Files.move(part, outFile, StandardCopyOption.REPLACE_EXISTING)
    println(s"wrote $outFile")
    spark.stop()
  }
}
