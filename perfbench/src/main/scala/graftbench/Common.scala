package graftbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Command-line options shared by every workload. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: Path,
    tiny: Boolean,
    faults: Set[String],
    out: String,
    only: Set[String])

object Opts {
  def parse(args: Array[String]): (String, Opts) = {
    val kv = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val mode = kv.getOrElse("mode", "run")
    val o = Opts(
      workload = kv.getOrElse("workload", ""),
      seed = kv.getOrElse("seed", "1").toLong,
      seconds = kv.getOrElse("seconds", "10").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      work = Paths.get(kv.getOrElse("work", "work")).toAbsolutePath,
      tiny = kv.getOrElse("tiny", "0") == "1",
      faults = kv.get("faults").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).toSet,
      out = kv.getOrElse("out", ""),
      only = kv.get("only").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).toSet)
    (mode, o)
  }
}

object Common {
  /** Spark runs at `local[nproc]`. */
  val Cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The engine's own session factory at `local[Cpus]`; every scratch
    * location (spill, warehouse, streaming checkpoints) sits under `work`.
    */
  def session(o: Opts, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = graft.GraftSession.builder(master = s"local[$Cpus]")
      .appName("graft-perfbench")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        o.work.resolve("checkpoints").toString)
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    graft.plans.GraftExtensions.register(s)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = now()
    val r = body
    (r, secs(t0, now()))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Peak resident set of this JVM, in MB (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) return Double.NaN
    val line = Files.readAllLines(f).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val it = Files.walk(p)
      try {
        var n = 0L
        it.forEach(f => if (Files.isRegularFile(f)) n += Files.size(f))
        n
      } finally it.close()
    }

  /** Exception class and message, first line only. */
  def cause(t: Throwable): String = {
    var c = t
    while (c.getCause != null && c.getCause != c &&
        (c.getMessage == null || c.isInstanceOf[java.util.concurrent.ExecutionException]))
      c = c.getCause
    val msg = Option(c.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")
    s"${c.getClass.getName}: ${msg.take(300)}"
  }
}

/** JSON output through Jackson's Scala module (on Spark's classpath). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)

  def pretty(v: Any): String = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(v)
}
