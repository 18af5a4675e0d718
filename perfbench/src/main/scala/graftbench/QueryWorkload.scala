package graftbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row}

/** `query_tail` and `query_heavy`: fixed lists of registry queries run in a
  * closed loop over seeded tables, each fully materialized (`collect`, every
  * row and column, ORDER BY kept) and fingerprinted against the table in
  * `perfbench/expected.json`. The seed fixes the query order of each pass.
  */
final class QueryWorkload(ctx: Ctx, val name: String) extends Workload {
  private val spark = ctx.spark
  private val o = ctx.o
  private val sf = if (o.tiny) QueryWorkload.TinySf else QueryWorkload.Sf
  private val tables = o.work.resolve("tables")
  private val spec = QueryWorkload.load(name)
  private val names: Seq[String] = spec.queries
  private val expected: Map[String, String] = spec.fingerprints(QueryWorkload.sfKey(sf))
  private val registry = graft.SparkEntry.queries
  private val lostUnderCount = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Int]]

  def setup(c: Ctx): Seq[(String, Double)] =
    Seq("datagen" -> Common.timed(Data.writeTables(spark, tables, sf, QueryWorkload.DataSeed))._2)

  private def op(q: String, firstTouch: Boolean): Op = {
    val fn = registry.getOrElse(q, sys.error(s"query $q is not in the registry"))
    Op(q, Sweep.family(q), () => {
      val df: DataFrame = ctx.trace.span("build", q)(fn(spark, tables.toString))
      // The timed action is `collect`: it executes df.queryExecution, the
      // query's own optimized plan, on every row and column with ORDER BY
      // kept. What `count()` would have dropped is recorded for the report.
      if (firstTouch) lostUnderCount(q) = Check.lostUnderCount(df)
      df.collect()
    }, out => {
      val fp = Check.fingerprint(out.asInstanceOf[Array[Row]])
      val want = expected.getOrElse(q, "none recorded")
      val corrupt = o.faults("fingerprint") && q == names.head
      require(fp == want && !corrupt,
        s"output fingerprint $fp != expected ${if (corrupt) "(corrupted) " else ""}$want")
    })
  }

  /** A pass takes close to a run's `--seconds`, so without a floor some
    * runs would time one pass and others two (the second one warmer).
    */
  override def minPasses: Int = 2

  def pass(n: Int, traced: Boolean): Seq[Op] =
    if (n == 0) names.map(op(_, firstTouch = true))
    else new scala.util.Random(ctx.rng).shuffle(names).map(op(_, firstTouch = false))

  override def endToEnd(s: Samples): Seq[(String, Metric)] = {
    val lat = s.all.filterNot(_.traced).map(_.secs).toSeq
    Seq(
      "query_p50_s" -> Metric(Common.quantile(lat, 0.5), "s", lat.size),
      "query_p90_s" -> Metric(Common.quantile(lat, 0.9), "s", lat.size))
  }

  override def layers(c: Ctx, s: Samples): Seq[(String, Metric)] =
    names.groupBy(Sweep.family).toSeq.sortBy(_._1).map { case (fam, qs) =>
      s"operators.$fam.s" -> Metric(qs.map(q => Common.median(s.of(q, traced = true))).sum,
        "s", qs.size)
    }

  override def detail: Map[String, Any] = Map(
    "sf" -> sf, "data_seed" -> QueryWorkload.DataSeed, "queries" -> names,
    "queries_losing_plan_nodes_under_count" -> lostUnderCount.filter(_._2.nonEmpty))
}

object QueryWorkload {
  val Sf = 0.01
  val TinySf = 0.001
  /** Tables are fixed (the expected fingerprints are per table content);
    * the run seed varies the order queries are issued in.
    */
  val DataSeed = 42L
  def sfKey(sf: Double): String = s"sf$sf"

  final case class Spec(queries: Seq[String], fingerprints: Map[String, Map[String, String]])

  /** The recorded query lists and fingerprints, relative to the checkout. */
  val ExpectedFile: Path = Paths.get("perfbench/expected.json")

  def load(workload: String): Spec = {
    import scala.jdk.CollectionConverters._
    val root = new ObjectMapper().readTree(Files.readAllBytes(ExpectedFile)).get(workload)
    require(root != null, s"$ExpectedFile has no entry for $workload")
    val qs = root.get("queries").elements().asScala.map(_.asText).toSeq
    val fps = Option(root.get("fingerprints")).map(_.fields().asScala.map { e =>
      e.getKey -> e.getValue.fields().asScala.map(x => x.getKey -> x.getValue.asText).toMap
    }.toMap).getOrElse(Map.empty)
    Spec(qs, fps.withDefaultValue(Map.empty))
  }
}
