package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, desc}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** `lake_ingest`: a seeded closed loop on partitioned tables created through
  * `GraftLakeCatalog`. Writes are `INSERT INTO` appends and copy-on-write
  * `DELETE`s; reads are partition-filtered scans and point lookups, each
  * checked against a driver-side model of the table. A separate append-only
  * table is tailed by `readStream.format("graft-lake")` (the stream source
  * refuses non-append snapshots), and every appended row must arrive
  * exactly once.
  */
final class LakeIngest(ctx: Ctx) extends Workload {
  val name = "lake_ingest"
  private val spark = ctx.spark
  private val o = ctx.o
  private val rng = ctx.rng
  private val batch = if (o.tiny) 40 else 400
  private val parts = 8
  // every pass works on a fresh catalog, so each pass replays the same
  // table history (commit chains and pointer logs grow within a pass only)
  private var cat = ""
  private def catalogDir = o.work.resolve(cat)
  private def checkpoint = o.work.resolve(s"$cat-checkpoint")

  // driver-side model: ingest rows by id, and the tail's appended ids
  private val model = mutable.Map.empty[Long, (Long, Double, String)]
  private val tailIds = mutable.ArrayBuffer.empty[Long]
  private val delivered = mutable.ArrayBuffer.empty[Long]
  private var nextId = 0L
  private var deletedPart = ""
  private var userBytes = 0L
  private var commits = 0
  private val filesRead = mutable.ArrayBuffer.empty[(Double, Double)]

  private val ingestSchema = StructType(Seq(StructField("id", LongType),
    StructField("k", LongType), StructField("v", DoubleType), StructField("part", StringType)))
  private val tailSchema = StructType(Seq(StructField("id", LongType),
    StructField("v", DoubleType), StructField("part", StringType)))

  def setup(c: Ctx): Seq[(String, Double)] = Seq.empty

  /** One pass is eight statements of about a second each; two passes give
    * every statement kind two samples per run.
    */
  override def minPasses: Int = 2

  /** Register catalog `cat` over an empty pointer log and create both tables. */
  private def createOp(): Op = Op("create", "lake", () => {
    import spark.implicits._
    ctx.trace.span("build", "create") {
      Seq.empty[(Long, String, String, Long)].toDF("version", "table_name", "meta_root", "snap_id")
        .coalesce(1).write.parquet(catalogDir.resolve("catalog_log").toString)
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.lake.GraftLakeCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.catalogDir", catalogDir.toString)
    }
    spark.sql(s"CREATE TABLE $cat.ingest (id BIGINT, k BIGINT, v DOUBLE, part STRING) " +
      "PARTITIONED BY (part)")
    spark.sql(s"CREATE TABLE $cat.tail (id BIGINT, v DOUBLE, part STRING) PARTITIONED BY (part)")
  }, _ => {
    model.clear(); tailIds.clear(); delivered.clear()
    commits += 2
  })

  private def part(): String = s"p${rng.nextInt(parts)}"

  private def insertOp(): Op = {
    val rows = (0 until batch).map { _ =>
      nextId += 1
      Row(nextId, rng.nextInt(1000).toLong, rng.nextInt(1000000) / 1000.0, part())
    }
    Op("insert", "lake", () => {
      ctx.trace.span("build", "insert")(
        spark.createDataFrame(rows.asJava, ingestSchema).createOrReplaceTempView("ingest_batch"))
      spark.sql(s"INSERT INTO $cat.ingest SELECT id, k, v, part FROM ingest_batch")
    }, _ => {
      rows.foreach(r => model(r.getLong(0)) = (r.getLong(1), r.getDouble(2), r.getString(3)))
      userBytes += rows.size * 26L
      commits += 1
    })
  }

  private def tailInsertOp(): Op = {
    val rows = (0 until batch / 2).map { _ =>
      nextId += 1
      Row(nextId, rng.nextInt(1000000) / 1000.0, part())
    }
    Op("tail_insert", "lake", () => {
      ctx.trace.span("build", "tail_insert")(
        spark.createDataFrame(rows.asJava, tailSchema).createOrReplaceTempView("tail_batch"))
      spark.sql(s"INSERT INTO $cat.tail SELECT id, v, part FROM tail_batch")
    }, _ => {
      tailIds ++= rows.map(_.getLong(0))
      userBytes += rows.size * 18L
      commits += 1
    })
  }

  /** Deletes the lower half of the keys of one partition, so a DELETE that
    * removes nothing or everything shows in the scan that follows it.
    */
  private def deleteOp(): Op = {
    val keysByPart = model.values.groupBy(_._3).map { case (pp, rs) =>
      pp -> rs.map(_._1).toSeq.distinct.sorted
    }
    val candidates = keysByPart.filter(_._2.size >= 2).keys.toSeq.sorted
    require(candidates.nonEmpty, "no partition has two distinct keys to split")
    val p = candidates(rng.nextInt(candidates.size))
    val ks = keysByPart(p)
    val below = ks(ks.size / 2)
    deletedPart = p
    Op("delete", "lake", () => {
      if (!o.faults("nodelete"))
        spark.sql(s"DELETE FROM $cat.ingest WHERE part = '$p' AND k < $below")
    }, _ => {
      model.filterInPlace { case (_, (k, _, pp)) => !(pp == p && k < below) }
      commits += 1
    })
  }

  private def rowsOf(out: Any): Seq[(Long, Long, Double)] =
    out.asInstanceOf[Array[Row]].map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  private def compare(what: String, got0: Seq[(Long, Long, Double)],
      want: Seq[(Long, Long, Double)]): Unit = {
    val got = if (o.faults("lakerow") && got0.nonEmpty) got0.tail else got0
    if (got.sorted != want.sorted) {
      val missing = want.diff(got).size
      val extra = got.diff(want).size
      throw new IllegalStateException(
        s"$what: ${got.size} rows read, model has ${want.size} ($missing missing, $extra unexpected)")
    }
  }

  private def scanOp(key: String, p: String, traced: Boolean): Op = {
    Op(key, "lake", () => {
      val df = ctx.trace.span("build", "scan")(
        spark.sql(s"SELECT id, k, v FROM $cat.ingest WHERE part = '$p'"))
      df.collect()
    }, out => {
      compare(s"$key of partition $p", rowsOf(out),
        model.toSeq.collect { case (id, (k, v, pp)) if pp == p => (id, k, v) })
      if (traced) filesRead += ((
        countFiles(s"SELECT count(DISTINCT _file) FROM $cat.ingest WHERE part = '$p'"),
        countFiles(s"SELECT count(DISTINCT _file) FROM $cat.ingest")))
    })
  }

  private def countFiles(q: String): Double = spark.sql(q).collect()(0).getLong(0).toDouble

  private def lookupOp(): Op = {
    val ids = model.keys.toSeq.sorted
    val id = ids(rng.nextInt(ids.size))
    Op("lookup", "lake", () => {
      val df = ctx.trace.span("build", "lookup")(
        spark.sql(s"SELECT id, k, v FROM $cat.ingest WHERE id = $id"))
      df.collect()
    }, out => compare(s"lookup of id $id", rowsOf(out),
      model.get(id).map { case (k, v, _) => (id, k, v) }.toSeq))
  }

  /** Tail the append-only table: one AvailableNow run over its current
    * metadata world, resuming from the checkpoint of the previous run.
    */
  private def streamOp(): Op = Op("stream", "streaming", () => {
    val root = ctx.trace.span("build", "stream") {
      spark.read.parquet(catalogDir.resolve("catalog_log").toString)
        .where(col("table_name") === "tail").orderBy(desc("version"))
        .select("meta_root").head().getString(0)
    }
    val got = mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-lake")
      .option("metaRoot", root).option("startSnapshot", "0").load()
      .select(col("id"))
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        got ++= df.collect().map(_.getLong(0))
        ()
      }
      .option("checkpointLocation", checkpoint.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    got.toSeq
  }, out => {
    delivered ++= out.asInstanceOf[Seq[Long]]
    val dup = delivered.size - delivered.distinct.size
    val want = tailIds.toSet
    val missing = want.size - delivered.toSet.intersect(want).size
    require(dup == 0 && missing == 0 && delivered.toSet == want,
      s"stream delivered ${delivered.size} rows for ${tailIds.size} appended " +
        s"($dup duplicates, $missing missing)")
  })

  def pass(n: Int, traced: Boolean): Seq[Op] = {
    cat = s"lake$n"
    // A fixed order, so every pass does the same work (a delete or stream
    // issued before the writes would have nothing to do); the seed varies
    // the rows, partitions and keys. Ops are built lazily, in issue order,
    // so each one sees the model state the ops before it produced; the scan
    // after the delete reads the partition the delete changed.
    Seq("create", "insert", "tail_insert", "scan", "lookup", "delete", "scan_after_delete",
        "stream").map { kind =>
      Op(kind, if (kind == "stream") "streaming" else "lake", () => {
        val op = kind match {
          case "create" => createOp()
          case "insert" => insertOp()
          case "tail_insert" => tailInsertOp()
          case "scan" => scanOp(kind, part(), traced)
          case "scan_after_delete" => scanOp(kind, deletedPart, traced)
          case "lookup" => lookupOp()
          case "delete" => deleteOp()
          case "stream" => streamOp()
        }
        (op.exec(), op)
      }, out => { val (r, op) = out.asInstanceOf[(Any, Op)]; op.verify(r) })
    }
  }

  override def endToEnd(s: Samples): Seq[(String, Metric)] = {
    val commit = Seq("create", "insert", "tail_insert", "delete").flatMap(k => s.of(k))
    val scan = s.of("scan") ++ s.of("scan_after_delete")
    val stream = s.of("stream")
    val passes = s.passSpans.filterNot(_._3)
    val rows = passes.size * (batch + batch / 2)
    Seq(
      "commit_p50_s" -> Metric(Common.quantile(commit, 0.5), "s", commit.size),
      "commit_p90_s" -> Metric(Common.quantile(commit, 0.9), "s", commit.size),
      "scan_p50_s" -> Metric(Common.median(scan), "s", scan.size),
      "lookup_p50_s" -> Metric(Common.median(s.of("lookup")), "s", s.of("lookup").size),
      "stream_batch_p50_s" -> Metric(Common.median(stream), "s", stream.size),
      "ingest_rows_per_s" -> Metric(rows / passes.map(_._4).sum, "rows/s", passes.size))
  }

  override def layers(c: Ctx, s: Samples): Seq[(String, Metric)] = {
    def med(k: String) = Common.median(s.of(k, traced = true))
    val lakeDirs = listDirs(o.work.resolve("tmp")).filter(_.getFileName.toString.startsWith("graft_lake"))
    val dataBytes = lakeDirs.map(d => Common.dirBytes(d.resolve("data"))).sum
    val allBytes = lakeDirs.map(d => Common.dirBytes(d)).sum
    val live = countFiles(s"SELECT count(DISTINCT _file) FROM $cat.ingest")
    val prog = c.trace.progress.filter(_.rows > 0).toSeq
    def pm(f: Trace.Progress => Double) = Metric(Common.median(prog.map(f)), "s", prog.size)
    Seq(
      "lake.commit_s" -> Metric(med("insert"), "s", s.of("insert", traced = true).size),
      "lake.delete_s" -> Metric(med("delete"), "s", s.of("delete", traced = true).size),
      "lake.scan_s" -> Metric(med("scan"), "s", s.of("scan", traced = true).size),
      "lake.files_live" -> Metric(live, "count", 1),
      "lake.files_read" -> Metric(Common.median(filesRead.map(_._1).toSeq), "count", filesRead.size),
      "lake.pruning_ratio" -> Metric(Common.median(filesRead.collect {
        case (read, live) if live > 0 => read / live }.toSeq), "ratio", filesRead.size),
      "lake.meta_bytes_per_commit" -> Metric((allBytes - dataBytes).toDouble / math.max(1, commits),
        "bytes", commits),
      "lake.bytes_on_disk_per_user_byte" -> Metric(allBytes.toDouble / math.max(1L, userBytes),
        "ratio", 1),
      "streaming.trigger_s" -> pm(_.triggerS),
      "streaming.latest_offset_s" -> pm(_.latestOffsetS),
      "streaming.query_planning_s" -> pm(_.planningS),
      "streaming.rows_per_batch" -> Metric(Common.median(prog.map(_.rows.toDouble)), "rows", prog.size))
  }

  private def listDirs(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Seq.empty
    else { val s = Files.list(p); try s.iterator().asScala.toSeq finally s.close() }

  override def detail: Map[String, Any] = Map(
    "batch_rows" -> batch, "partitions" -> parts, "commits" -> commits,
    "rows_live" -> model.size, "tail_rows" -> tailIds.size)
}
