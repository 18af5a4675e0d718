package graftbench

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.{col, length, sum}
import org.apache.spark.unsafe.Platform

import graft.core.{AeChunker, Chunker, ParallelChunking, RabinChunker}
import graft.operators.Chunking
import graft.sources.BinaryFiles

/** `chunk_corpus`: the reference experiment (chunk a corpus, dedup it,
  * report the dedup coefficient and average chunk size) on Spark. Each pass
  * runs `BinaryFiles.dedupMetrics` once per algorithm over a seeded corpus;
  * traced passes add the segmented path over one large blob (ae, rabin)
  * and layer probes. Every result must equal a single-thread recomputation
  * with `graft.core`, which also gives the core's own MB/s; it runs after
  * the timed loop, so it is not part of set-up.
  */
final class ChunkCorpus(ctx: Ctx) extends Workload {
  import ChunkCorpus._

  val name = "chunk_corpus"
  private val spark = ctx.spark
  private val o = ctx.o
  private val corpusBytes = if (o.tiny) 4L << 20 else 48L << 20
  private val blobBytes = if (!o.trace) 0L else if (o.tiny) 2L << 20 else 64L << 20
  private val segments = Common.Cpus
  private var corpus: Data.Corpus = _
  private val expected = scala.collection.mutable.Map.empty[String, Expected]
  /** Engine results by op key, checked by [[deferredChecks]]. */
  private val results = scala.collection.mutable.ArrayBuffer.empty[(String, Row)]
  private val coreMbps = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** Pass times fall for about five passes while the JIT compiles the
    * chunk and aggregation code paths; two passes beyond the first touch
    * take most of that out of the timed loop.
    */
  override def warmupPasses: Int = 3

  def setup(c: Ctx): Seq[(String, Double)] = {
    val (cp, s) = Common.timed(Data.writeCorpus(o.work.resolve("corpus"), corpusBytes,
      blobBytes, o.seed))
    corpus = cp
    Seq("datagen" -> s)
  }

  /** Driver-side single-thread ground truth: the same chunkers and the same
    * xxhash64 (seed 42) the Spark plan uses, aggregated exactly as
    * `Chunking.dedupMetrics` aggregates.
    */
  private def computeExpected(segmented: Boolean): Unit = {
    val files = corpus.files.map(p => Files.readAllBytes(p))
    Algos.foreach { algo =>
      val ch = Chunker(algo, ExpectedSize, 0L)
      // a traced run reports core MB/s, so it times a JIT-warm second scan
      if (o.trace) files.foreach(ch.boundaries)
      var coreNs = 0L
      val acc = new Acc
      files.foreach { data =>
        val t0 = System.nanoTime()
        val ends = ch.boundaries(data)
        coreNs += System.nanoTime() - t0
        acc.addEnds(data, ends)
      }
      coreMbps(algo) = corpusBytes / 1e6 / (coreNs / 1e9)
      expected(s"dedup.$algo") = acc.result
    }
    lazy val blob = Files.readAllBytes(corpus.blob)
    if (segmented) SegAlgos.foreach { algo =>
      val (bounds, window) = algo match {
        case "ae" =>
          val c = AeChunker(SegExpectedSize)
          ((d: Array[Byte], l: Int, r: Int) => c.boundsInRange(d, l, r), c.window)
        case _ =>
          val c = RabinChunker(SegExpectedSize, 0)
          ((d: Array[Byte], l: Int, r: Int) => c.boundsInRange(d, l, r), c.windowSize)
      }
      ParallelChunking.overlapMergedBoundaries(blob, segments, bounds, window)
      val t0 = System.nanoTime()
      val ends = ParallelChunking.overlapMergedBoundaries(blob, segments, bounds, window)
      coreMbps(s"segmented.$algo") = blob.length / 1e6 / ((System.nanoTime() - t0) / 1e9)
      val acc = new Acc
      acc.addEnds(blob, ends)
      expected(s"probe.segmented.$algo") = acc.result
    }
    if (o.faults("dedup")) {
      val e = expected("dedup.fixed")
      expected("dedup.fixed") = e.copy(uniqueBytes = e.uniqueBytes + 1)
    }
  }

  private def keep(key: String)(out: Any): Unit = {
    val rows = out.asInstanceOf[Array[Row]]
    require(rows.length == 1, s"$key: expected one metrics row, got ${rows.length}")
    results += key -> rows(0)
  }

  override def deferredChecks(): Seq[(String, String)] = {
    computeExpected(segmented = o.trace)
    results.toSeq.flatMap { case (key, r) =>
      try { check(key, r); None }
      catch { case t: IllegalArgumentException => Some(key -> Common.cause(t)) }
    }
  }

  private def check(key: String, r: Row): Unit = {
    val got = Expected(r.getAs[Long]("unique_bytes"), r.getAs[Long]("total_bytes"),
      r.getAs[Long]("distinct_chunks"), r.getAs[Long]("chunk_count"))
    val want = expected(key)
    require(got == want, s"$key: engine metrics $got != single-thread recomputation $want")
    // the engine rounds the coefficient to 6 decimals
    val coeff = r.getAs[Double]("dedup_coeff")
    require(math.abs(coeff - want.coeff) <= 1e-6,
      s"$key: dedup_coeff $coeff != ${want.coeff}")
  }

  def pass(n: Int, traced: Boolean): Seq[Op] = {
    val dir = corpus.dir.toString
    val blobDir = corpus.blob.getParent.toString
    val dedup = Algos.map { algo =>
      Op(s"dedup.$algo", "dedup", () => {
        val df = ctx.trace.span("build", algo)(
          BinaryFiles.dedupMetrics(spark, dir, algo, ExpectedSize))
        df.collect()
      }, keep(s"dedup.$algo"))
    }
    val seg = if (!traced) Seq.empty else SegAlgos.map { algo =>
      Op(s"probe.segmented.$algo", "segmented", () => {
        val df = ctx.trace.span("build", algo)(Chunking.dedupMetrics(
          Chunking.segmentedChunkTable(BinaryFiles.load(spark, blobDir), "path", "content",
            algo, SegExpectedSize, 0L, segments, spreadSegments = true)))
        df.collect()
      }, keep(s"probe.segmented.$algo"))
    }
    // layer probes, traced passes only: the segmented path over the blob,
    // the raw BinaryFiles read and the chunk Generator without the dedup
    // aggregation
    val probes = if (!traced) Seq.empty else
      Op("probe.read", "sources", () => {
        val df = ctx.trace.span("build", "read")(
          BinaryFiles.load(spark, dir).select(sum(length(col("content")))))
        df.collect()
      }, out => require(out.asInstanceOf[Array[Row]](0).getLong(0) == corpusBytes,
        "BinaryFiles read returned the wrong byte count")) +:
      Algos.map { algo =>
        Op(s"probe.generator.$algo", "plans", () => {
          val df = ctx.trace.span("build", algo)(
            BinaryFiles.chunkFiles(spark, dir, algo, ExpectedSize))
          df.write.format("noop").mode("overwrite").save()
        })
      }
    new scala.util.Random(ctx.rng).shuffle(dedup ++ seg ++ probes)
  }

  override def endToEnd(s: Samples): Seq[(String, Metric)] = {
    val d = Algos.flatMap(a => s.of(s"dedup.$a"))
    ("corpus_mbps" -> Metric(corpusBytes / 1e6 * d.size / d.sum, "MB/s", d.size)) +:
      Algos.map(a => s"dedup.$a.p50_s" -> Metric(Common.median(s.of(s"dedup.$a")), "s",
        s.of(s"dedup.$a").size))
  }

  override def layers(c: Ctx, s: Samples): Seq[(String, Metric)] = {
    def med(k: String) = Common.median(s.of(k, traced = true))
    val read = med("probe.read")
    Algos.map(a => s"core.mbps.$a" -> Metric(coreMbps(a), "MB/s", 1)) ++
      SegAlgos.map(a => s"core.segmented_mbps.$a" -> Metric(coreMbps(s"segmented.$a"), "MB/s", 1)) ++
      SegAlgos.map { a =>
        val xs = s.of(s"probe.segmented.$a", traced = true)
        s"plans.segmented_mbps.$a" -> Metric(corpus.blobBytes / 1e6 / Common.median(xs), "MB/s", xs.size)
      } ++
      Algos.map(a => s"core.chunks.$a" -> Metric(expected(s"dedup.$a").chunks.toDouble, "count", 1)) ++
      Seq("sources.binary_read_mbps" -> Metric(corpusBytes / 1e6 / read, "MB/s",
        s.of("probe.read", traced = true).size)) ++
      Algos.flatMap { a =>
        val gen = med(s"probe.generator.$a")
        val genMbps = corpusBytes / 1e6 / gen
        val n = s.of(s"probe.generator.$a", traced = true).size
        Seq(s"plans.generator_mbps.$a" -> Metric(genMbps, "MB/s", n),
          s"plans.generator_efficiency.$a" -> Metric(genMbps / (coreMbps(a) * Common.Cpus), "ratio", n),
          s"operators.dedup_agg_s.$a" -> Metric(med(s"dedup.$a") - gen, "s", n))
      }
  }

  override def detail: Map[String, Any] = Map(
    "corpus_bytes" -> corpusBytes, "corpus_files" -> corpus.files.size,
    "corpus_copies" -> corpus.copies, "blob_bytes" -> corpus.blobBytes,
    "expected_chunk_size" -> ExpectedSize, "segmented_chunk_size" -> SegExpectedSize,
    "segments" -> segments,
    "dedup_coeff" -> expected.map { case (k, e) => k -> e.coeff })
}

object ChunkCorpus {
  val Algos = Seq("fixed", "ae", "fastcdc", "rabin")
  val SegAlgos = Seq("ae", "rabin")
  val ExpectedSize = 16 * 1024
  /** Expected chunk size on the segmented path. `segmentedChunkTable`
    * cuts each chunk with `substring` over a row that carries the whole
    * blob, and reading that binary copies the blob once per chunk row, so
    * the op costs about (blob bytes × chunk count). At 16 KiB chunks a
    * 64 MiB blob copies 256 GB per op, far beyond a run; at 1 MiB the
    * copy still dominates the op (64 copies of the blob). Even so one op
    * takes seconds, so the segmented path runs as a layer probe of traced
    * runs only.
    */
  val SegExpectedSize: Int = 1 << 20

  final case class Expected(uniqueBytes: Long, totalBytes: Long, distinct: Long, chunks: Long) {
    def coeff: Double = uniqueBytes.toDouble / totalBytes
  }

  /** `groupBy(hash).agg(first(length), count)` then sums, on the driver. */
  final class Acc {
    private val firstLen = new java.util.HashMap[Long, Integer]()
    private var total = 0L
    private var chunks = 0L
    def addEnds(data: Array[Byte], ends: Array[Int]): Unit = {
      var last = 0
      ends.foreach { e =>
        val len = e - last
        val h = XXH64.hashUnsafeBytes(data, Platform.BYTE_ARRAY_OFFSET + last, len, 42L)
        firstLen.putIfAbsent(h, len)
        total += len
        chunks += 1
        last = e
      }
    }
    def result: Expected = {
      var unique = 0L
      firstLen.values.forEach(l => unique += l.longValue)
      Expected(unique, total, firstLen.size.toLong, chunks)
    }
  }
}
