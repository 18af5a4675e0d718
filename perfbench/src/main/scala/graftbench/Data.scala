package graftbench

import java.nio.file.{Files, Path}
import java.time.LocalDateTime

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every byte the benchmark feeds the engine comes
  * from here: the same (scale, seed) always yields the same files.
  */
object Data {

  // ---------------------------------------------------------------------
  // Relational tables: the ten tables the query registry reads, with the
  // column names, types and value domains the queries expect.
  // ---------------------------------------------------------------------

  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val adjectives = Array("small", "red", "blue", "green", "large", "shiny", "old", "steel")
  private val nouns = Array("ring", "widget", "bolt", "gear", "valve", "spring", "plate", "nut")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("click", "error", "purchase", "signup", "view")
  private val vocab = ("a the row key agg scan slow fast table value part hash merge batch " +
    "line sort window spark order data column join small query customer filter big " +
    "group stream vector").split(" ")
  private val langs = Array("en", "en", "en", "zh", "es", "de", "fr")
  private val flags = Array("A", "N", "R")
  private val statuses = Array("F", "O")
  private val orderStatus = Array("F", "O", "P")

  val tableNames: Seq[String] = graft.Tables.names

  /** Write every table as one parquet file per table under `dir`. */
  def writeTables(spark: SparkSession, dir: Path, sf: Double, seed: Long): Unit = {
    def n(base: Double, min: Int): Int = math.max(min, math.round(base * sf).toInt)
    val nCust = n(150000, 50)
    val nSupp = n(10000, 10)
    val nPart = n(200000, 50)
    val nOrders = n(1500000, 200)
    val nEvents = n(1000000, 200)
    val nDocs = n(50000, 60)
    val nEmb = n(50000, 60)
    def rng(salt: Long) = new java.util.Random(seed * 1000003L + salt)
    def cents(r: java.util.Random, lo: Double, hi: Double): Double =
      math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)

    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    def f(name: String, t: DataType) = StructField(name, t)

    write("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (nm, i) => Row(i, nm) })
    write("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    { val r = rng(1)
      write("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
          f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
          f("c_mktsegment", StringType))),
        (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
          cents(r, -999.99, 9999.99), segments(r.nextInt(segments.length))))) }

    { val r = rng(2)
      write("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
          f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
        (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
          cents(r, -999.99, 9999.99)))) }

    val retail = Array.tabulate(nPart)(i => 900.0 + (i % 2000) / 10.0)

    { val r = rng(3)
      write("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
          f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
          f("p_retailprice", DoubleType))),
        (0 until nPart).map(i => Row(i.toLong,
          adjectives(r.nextInt(adjectives.length)) + " " + nouns(r.nextInt(nouns.length)),
          s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(types.length)),
          1 + r.nextInt(50), retail(i)))) }

    { val r = rng(4)
      val orders = new ArrayBuffer[Row](nOrders)
      val lines = new ArrayBuffer[Row](nOrders * 4)
      var o = 0
      while (o < nOrders) {
        val date = day0.plusDays(r.nextInt(2405).toLong)
        val nl = 1 + r.nextInt(7)
        var total = 0.0
        var l = 1
        while (l <= nl) {
          val pk = r.nextInt(nPart)
          val qty = (1 + r.nextInt(50)).toDouble
          val price = math.round(qty * retail(pk) * 100) / 100.0
          total += price
          lines += Row(o.toLong, pk.toLong, r.nextInt(nSupp).toLong, l, qty, price,
            r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
            flags(r.nextInt(3)), statuses(r.nextInt(2)),
            date.plusDays(1L + r.nextInt(121)))
          l += 1
        }
        orders += Row(o.toLong, r.nextInt(nCust).toLong, orderStatus(r.nextInt(3)),
          math.round(total * 100) / 100.0, date, priorities(r.nextInt(priorities.length)))
        o += 1
      }
      write("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
          f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
          f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))), orders.toSeq)
      write("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
          f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
          f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
          f("l_returnflag", StringType), f("l_linestatus", StringType),
          f("l_shipdate", TimestampNTZType))), lines.toSeq) }

    { val r = rng(5)
      val span = 30L * 86400L * 1000000L
      val users = math.max(20, nEvents / 60)
      var ts = 0L
      write("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
          f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
          f("props", StringType))),
        (0 until nEvents).map { i =>
          ts += (r.nextDouble() * 2 * span / nEvents).toLong
          Row(i.toLong, LocalDateTime.of(2024, 1, 1, 0, 0).plusNanos(ts * 1000L),
            r.nextInt(users).toLong, eventTypes(r.nextInt(eventTypes.length)),
            cents(r, 0.01, 500.0), s"""{"k": ${r.nextInt(100)}}""")
        }) }

    { val r = rng(6)
      val texts = new ArrayBuffer[String](nDocs)
      (0 until nDocs).foreach { i =>
        // one document in ten is a near-duplicate of an earlier one
        val t = if (i > 10 && r.nextInt(10) == 0) {
          val words = texts(r.nextInt(i)).split(" ")
          words(r.nextInt(words.length)) = vocab(r.nextInt(vocab.length))
          words.mkString(" ")
        } else {
          val nw = 10 + r.nextInt(90)
          Seq.fill(nw)(vocab(r.nextInt(vocab.length))).mkString(" ")
        }
        texts += t
      }
      write("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
          f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
        texts.toSeq.zipWithIndex.map { case (t, i) =>
          Row(i.toLong, t, langs(r.nextInt(langs.length)), s"src${i % 20}", t.length.toLong)
        }) }

    { val r = rng(7)
      val dim = 64
      val centers = Array.fill(10, dim)(r.nextGaussian())
      write("embeddings", StructType(Seq(f("vec_id", LongType),
          f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
        (0 until nEmb).map { i =>
          val label = r.nextInt(10)
          val v = Array.tabulate(dim)(d => centers(label)(d) + 0.6 * r.nextGaussian())
          val norm = math.sqrt(v.map(x => x * x).sum)
          Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
        }) }
  }

  // ---------------------------------------------------------------------
  // Byte corpus for the chunking workload.
  // ---------------------------------------------------------------------

  final case class Corpus(dir: Path, files: Seq[Path], bytes: Long, copies: Int,
      blob: Path, blobBytes: Long)

  /** A corpus of exactly `totalBytes` bytes. File sizes are the quantiles
    * of a log-uniform distribution over 16 KiB .. 4 MiB in seeded order, and
    * every third file is a copy of an earlier file with a short insertion
    * at a random offset, so content-defined chunkers find shared chunks that
    * fixed-size chunking loses. Every seed gives a corpus of the same shape;
    * only its bytes and their order change. Plus one large blob of
    * `blobBytes` built from repeated and fresh regions, for the segmented
    * chunking path.
    */
  def writeCorpus(root: Path, totalBytes: Long, blobBytes: Long, seed: Long): Corpus = {
    val r = new java.util.Random(seed)
    val dir = Files.createDirectories(root.resolve("files"))
    val made = ArrayBuffer.empty[Array[Byte]]
    val paths = ArrayBuffer.empty[Path]
    val (lo, hi) = (math.log(16 << 10), math.log(4 << 20))
    val n = math.max(3, math.round(totalBytes / (((4 << 20) - (16 << 10)) / (hi - lo))).toInt)
    val sizes = new scala.util.Random(r).shuffle((0 until n).map(i => math.exp(lo + (i + 0.5) / n * (hi - lo)).toInt))
    var left = totalBytes
    var copies = 0
    while (left > 0) {
      val data: Array[Byte] =
        if (paths.length % 3 == 2) {
          val src = made(r.nextInt(made.length))
          val ins = new Array[Byte](1 + r.nextInt(64))
          r.nextBytes(ins)
          val at = r.nextInt(src.length + 1)
          copies += 1
          Array.concat(src.take(at), ins, src.drop(at))
        } else {
          val b = new Array[Byte](sizes(paths.length % n))
          r.nextBytes(b)
          b
        }
      val d = if (data.length > left) data.take(left.toInt) else data
      val p = dir.resolve(f"f${paths.length}%05d.bin")
      Files.write(p, d)
      made += d
      paths += p
      left -= d.length
    }
    val blobDir = Files.createDirectories(root.resolve("blob"))
    val blob = blobDir.resolve("blob.bin")
    val out = new java.io.BufferedOutputStream(Files.newOutputStream(blob), 1 << 20)
    try {
      val regions = ArrayBuffer.empty[Array[Byte]]
      var written = 0L
      while (written < blobBytes) {
        val want = math.min(blobBytes - written, (2L << 20) + r.nextInt(4 << 20)).toInt
        val reg = if (regions.nonEmpty && r.nextInt(10) < 3) {
          val src = regions(r.nextInt(regions.length))
          src.take(want)
        } else { val b = new Array[Byte](want); r.nextBytes(b); regions += b; b }
        out.write(reg)
        written += reg.length
      }
    } finally out.close()
    Corpus(dir, paths.toSeq, totalBytes, copies, blob, Files.size(blob))
  }
}
