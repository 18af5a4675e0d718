package graftbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Full-surface survey used to choose the query workloads: every registry
  * query once cold and twice warm, fully materialized, with its output
  * fingerprints and the plan kinds `count()` would have dropped. Writes one
  * JSON object per query to `--out`.
  *
  *   python3 perfbench/run.py --mode sweep --out sweep.jsonl [--only a,b]
  */
object Sweep {
  def family(name: String): String = {
    val p = name.takeWhile(_ != '_')
    if (p.matches("q\\d+")) "q" else p
  }

  def run(spark: SparkSession, sfDir: String, out: java.nio.file.Path,
      only: Set[String]): Unit = {
    val w = Files.newBufferedWriter(out)
    try {
      val all = graft.SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(q => only.isEmpty || only.contains(q._1))
      all.foreach { case (name, fn) =>
        val rec = scala.collection.mutable.LinkedHashMap[String, Any](
          "name" -> name, "family" -> family(name))
        try {
          spark.sharedState.cacheManager.clearCache()
          val (df, buildCold) = Common.timed(fn(spark, sfDir))
          rec("lost_under_count") = Check.lostUnderCount(df)
          val (rows, cold) = Common.timed(df.collect())
          val fps = scala.collection.mutable.ArrayBuffer(Check.fingerprint(rows))
          val warm = (1 to 2).map { _ =>
            spark.sharedState.cacheManager.clearCache()
            val (r, t) = Common.timed(fn(spark, sfDir).collect())
            fps += Check.fingerprint(r)
            t
          }
          rec ++= Seq("build_cold_s" -> buildCold, "cold_s" -> cold,
            "warm_s" -> Common.median(warm), "rows" -> rows.length,
            "fingerprints" -> fps.distinct.toSeq,
            "deterministic" -> (fps.distinct.size == 1))
        } catch {
          case t: Throwable => rec("error") = Common.cause(t)
        }
        w.write(Json(rec) + "\n")
        w.flush()
      }
    } finally w.close()
  }
}
