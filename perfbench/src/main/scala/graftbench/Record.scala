package graftbench

import java.nio.file.Files

/** Rebuilds `perfbench/expected.json`: for each query workload, the output
  * fingerprint of every listed query at the normal and the tiny scale. Each
  * query runs twice and must fingerprint identically both times; a query
  * that does not is recorded as "nondeterministic" and then fails every
  * run that includes it.
  */
object Record {
  def run(o: Opts): Unit = {
    val spark = Common.session(o)
    val workloads = Seq("query_tail", "query_heavy")
    val specs = workloads.map(w => w -> QueryWorkload.load(w)).toMap
    val fps = for (sf <- Seq(QueryWorkload.Sf, QueryWorkload.TinySf)) yield {
      val dir = o.work.resolve(s"tables-$sf")
      Data.writeTables(spark, dir, sf, QueryWorkload.DataSeed)
      sf -> workloads.map { w =>
        w -> specs(w).queries.map { q =>
          val fn = graft.SparkEntry.queries(q)
          val runs = (1 to 2).map { _ =>
            spark.sharedState.cacheManager.clearCache()
            Check.fingerprint(fn(spark, dir.toString).collect())
          }
          System.err.println(s"record $w sf$sf $q ${runs.mkString(" ")}")
          q -> (if (runs.distinct.size == 1) runs.head else "nondeterministic")
        }.toMap
      }.toMap
    }
    val out = workloads.map { w =>
      w -> scala.collection.immutable.ListMap(
        "queries" -> specs(w).queries,
        "fingerprints" -> fps.map { case (sf, m) =>
          QueryWorkload.sfKey(sf) -> scala.collection.immutable.TreeMap(m(w).toSeq: _*) }.toMap)
    }
    Files.writeString(QueryWorkload.ExpectedFile,
      Json.pretty(scala.collection.immutable.ListMap(out: _*)) + "\n")
    spark.stop()
  }
}
