package graftbench

import java.nio.file.{Files, Paths}

/** Benchmark entry point; `perfbench/run.py` builds the classpath and
  * launches it. Modes:
  *   run    one workload, closed loop, prints the result JSON last
  *   sweep  survey of every registry query (see [[Sweep]])
  *   record rewrite the expected query fingerprints (see [[Record]])
  *   tables write the query workloads' tables to `--out` (for oracle checks)
  */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val (mode, o) = Opts.parse(args)
    Files.createDirectories(o.work)
    def tables(dir: java.nio.file.Path) = {
      val spark = Common.session(o)
      Data.writeTables(spark, dir, QueryWorkload.Sf, QueryWorkload.DataSeed)
      spark
    }
    val code = mode match {
      case "run" =>
        val mk: Ctx => Workload = o.workload match {
          case "chunk_corpus" => new ChunkCorpus(_)
          case w @ ("query_tail" | "query_heavy") => new QueryWorkload(_, w)
          case "lake_ingest" => new LakeIngest(_)
          case w => sys.error(s"unknown workload: $w")
        }
        Runner.run(o, jvmStartMs, mk)
      case "sweep" =>
        val dir = o.work.resolve("tables")
        val spark = tables(dir)
        Sweep.run(spark, dir.toString, Paths.get(o.out), o.only)
        spark.stop()
        0
      case "tables" =>
        tables(Paths.get(o.out)).stop()
        0
      case "record" =>
        Record.run(o)
        0
      case other =>
        System.err.println(s"unknown mode: $other")
        2
    }
    System.out.flush()
    sys.exit(code)
  }
}
