package graft.sources.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.{ColumnIOFactory, LocalInputFile, LocalOutputFile}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.types._

/** One row of a metadata table, addressed by (case-insensitive) column
  * name. INT32 columns read as Long, string BINARY as String, other
  * BINARY as bytes, and a LIST column as the Seq of its elements.
  */
private[lake] final class MetaRow(cols: Map[String, Int], vals: Array[Any]) {
  private def at(c: String): Any = cols.get(c.toLowerCase).map(vals(_)).orNull
  def has(c: String): Boolean = cols.contains(c.toLowerCase)
  def long(c: String): Long = at(c).asInstanceOf[Long]
  def str(c: String): String = at(c).asInstanceOf[String]
  def bool(c: String): Boolean = at(c).asInstanceOf[Boolean]
  def longs(c: String): Array[Long] =
    at(c).asInstanceOf[Seq[Any]].map(_.asInstanceOf[Long]).toArray
  /** A string column that may be absent from this layout or null. */
  def strOr(c: String, default: String): String =
    Option(at(c)).map(_.asInstanceOf[String]).getOrElse(default)
}

/** Driver-side parquet I/O for the lake's METADATA tables — catalog_log,
  * manifests, snapshots, refs_log, tableschema, and the delete files
  * (dv / pos / eq) the resolver reads. Every one of
  * them is KB-scale and write-once per directory, so reading or writing
  * one through a Spark query (schema inference, planning, a job) costs
  * 10-20x the I/O itself; here a read is one footer plus its row groups
  * and a write is one file, both on the calling thread. Only DATA files
  * go through Spark. The files stay ordinary parquet that
  * `spark.read.parquet` reads back, and Spark-written metadata tables
  * (every fixture world) read here unchanged.
  */
private[lake] object LakeMeta {

  /** A directory's part files, as Spark lists them: recursive, skipping
    * hidden `.`/`_` entries (checksums, `_SUCCESS`, in-flight temp files)
    * but descending into `_`-prefixed partition dirs that carry `=`.
    * Sorted, so listings are deterministic. A missing directory lists
    * empty; a plain file lists as itself.
    */
  def files(dir: String): IndexedSeq[String] = {
    val root = Paths.get(LakeResolver.normLocal(dir))
    if (Files.isRegularFile(root)) return IndexedSeq(root.toString)
    if (!Files.isDirectory(root)) return IndexedSeq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(d: Path): Unit = {
      val st = Files.list(d)
      val kids = try st.iterator().asScala.toIndexedSeq finally st.close()
      kids.foreach { p =>
        val n = p.getFileName.toString
        val hidden = n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
        if (!hidden) {
          if (Files.isDirectory(p)) walk(p) else out += p.toString
        }
      }
    }
    walk(root)
    out.sorted.toIndexedSeq
  }

  /** Every row of a metadata table directory (or of one file). */
  def read(dir: String): IndexedSeq[MetaRow] = readFiles(files(dir))

  /** Open a footer with the shared conf: the default read options build
    * (and parse) a fresh Hadoop Configuration per file.
    */
  private def open(f: String): ParquetFileReader =
    ParquetFileReader.open(new LocalInputFile(Paths.get(LakeResolver.normLocal(f))),
      HadoopReadOptions.builder(LakeHadoopConf.base).build())

  def readFiles(fs: Seq[String]): IndexedSeq[MetaRow] = fs.flatMap { f =>
    val r = open(f)
    try {
      val schema = r.getFooter.getFileMetaData.getSchema
      val cols = schema.getFields.asScala.map(_.getName.toLowerCase)
        .zipWithIndex.toMap
      val io = new ColumnIOFactory().getColumnIO(schema)
      val out = scala.collection.mutable.ArrayBuffer.empty[MetaRow]
      var pages = r.readNextRowGroup()
      while (pages != null) {
        val rr = io.getRecordReader(pages, new GroupRecordConverter(schema))
        var i = 0L
        while (i < pages.getRowCount) {
          val g = rr.read()
          out += new MetaRow(cols, Array.tabulate[Any](cols.size)(value(g, _)))
          i += 1
        }
        pages = r.readNextRowGroup()
      }
      out
    } finally r.close()
  }.toIndexedSeq

  private def value(g: Group, i: Int): Any =
    if (g.getFieldRepetitionCount(i) == 0) null
    else g.getType.getType(i) match {
      case p: PrimitiveType => prim(g, i, 0, p)
      case _ => elements(g.getGroup(i, 0))
    }

  /** A LIST group's elements, flattened through either the 3-level
    * layout Spark writes (`repeated group list { element }`) or the
    * legacy 2-level one (`repeated <prim> array`).
    */
  private def elements(g: Group): Seq[Any] =
    (0 until g.getType.getFieldCount).flatMap { i =>
      (0 until g.getFieldRepetitionCount(i)).flatMap { j =>
        g.getType.getType(i) match {
          case p: PrimitiveType => Seq(prim(g, i, j, p))
          case _ => elements(g.getGroup(i, j))
        }
      }
    }

  private def prim(g: Group, i: Int, j: Int, p: PrimitiveType): Any =
    p.getPrimitiveTypeName match {
      case INT64 => g.getLong(i, j)
      case INT32 => g.getInteger(i, j).toLong
      case BOOLEAN => g.getBoolean(i, j)
      case DOUBLE => g.getDouble(i, j)
      case FLOAT => g.getFloat(i, j).toDouble
      case BINARY | FIXED_LEN_BYTE_ARRAY =>
        val b = g.getBinary(i, j)
        if (p.getLogicalTypeAnnotation == LogicalTypeAnnotation.stringType())
          b.toStringUsingUTF8
        else b.getBytes
      case t => sys.error(s"graft-lake: unsupported metadata column type $t")
    }

  /** The Spark schema of a parquet footer, as `spark.read.parquet(file)`
    * infers it without a job: the embedded Spark schema when the writer
    * stored one, else the footer converted, every field nullable.
    */
  def sparkSchema(file: String): StructType = {
    val r = open(file)
    val meta = try r.getFooter.getFileMetaData finally r.close()
    val st = Option(meta.getKeyValueMetaData.get(
        "org.apache.spark.sql.parquet.row.metadata"))
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse(new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(LakeHadoopConf.base)
        .convert(meta.getSchema))
    nullable(st).asInstanceOf[StructType]
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case o => o
  }

  /** Write `rows` (tuples in `schema` order; LONG, STRING or BOOLEAN
    * columns) as ONE new part file of the table directory `dir`, created
    * if absent. The file is written under a hidden temp name and then
    * atomically renamed into place, so a concurrent lister (this module
    * or Spark's) sees the whole file or nothing — what makes an append
    * to a shared table like catalog_log safe. Returns the file's path.
    */
  def write(dir: Path, schema: StructType, rows: Seq[Product]): String = {
    Files.createDirectories(dir)
    val mt = messageType(schema.fields.toSeq)
    val name = s"part-00000-${java.util.UUID.randomUUID()}.parquet"
    val tmp = dir.resolve(s".$name.tmp")
    val w = ExampleParquetWriter.builder(new LocalOutputFile(tmp))
      .withType(mt).withConf(LakeHadoopConf.base).build()
    try {
      val f = new SimpleGroupFactory(mt)
      rows.foreach { row =>
        val g = f.newGroup()
        schema.fields.zip(row.productIterator).foreach {
          case (_, null) => ()
          case (fld, v: Long) if fld.dataType == LongType => g.append(fld.name, v)
          case (fld, v: String) if fld.dataType == StringType =>
            g.append(fld.name, Binary.fromString(v))
          case (fld, v: Boolean) if fld.dataType == BooleanType =>
            g.append(fld.name, v)
          case (fld, v) => sys.error(
            s"graft-lake: metadata value $v does not fit ${fld.name}:${fld.dataType}")
        }
        w.write(g)
      }
    } finally w.close()
    val out = dir.resolve(name)
    Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE)
    out.toString
  }

  /** The parquet schema the lake writes for `fields` (every column
    * optional, as Spark writes them) — shared by this metadata writer
    * and the executor-side [[LakeDataWriter]].
    */
  def messageType(fields: Seq[StructField]): MessageType = {
    val b = Types.buildMessage()
    fields.foreach { f =>
      b.addField(f.dataType match {
        case LongType => Types.optional(INT64).named(f.name)
        case IntegerType => Types.optional(INT32).named(f.name)
        case StringType => Types.optional(BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case DateType => Types.optional(INT32)
          .as(LogicalTypeAnnotation.dateType()).named(f.name)
        case DoubleType => Types.optional(DOUBLE).named(f.name)
        case FloatType => Types.optional(FLOAT).named(f.name)
        case BooleanType => Types.optional(BOOLEAN).named(f.name)
        case t => sys.error(s"graft-lake: unsupported write type $t")
      })
    }
    b.named("spark_schema")
  }

  /** Copy a metadata table's part files into `to` (a fresh directory):
    * the table is immutable, so a commit carries it by bytes.
    */
  def copyTable(from: String, to: Path): Unit = {
    Files.createDirectories(to)
    files(from).foreach { f =>
      val p = Paths.get(f)
      Files.copy(p, to.resolve(p.getFileName))
    }
  }

  def schemaOf(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t, nullable = true) })

  val ManifestSchema: StructType = schemaOf("snap_id" -> LongType,
    "content" -> StringType, "file" -> StringType, "base" -> StringType,
    "seq" -> LongType, "key_col" -> StringType)
  val SnapshotSchema: StructType =
    schemaOf("snap_id" -> LongType, "op" -> StringType, "parent_id" -> LongType)
  val TableSchemaSchema: StructType = schemaOf("name" -> StringType,
    "dtype" -> StringType, "is_part" -> BooleanType, "ord" -> LongType)
}

/** One pointer-log row: `table` is at `version`, served by the metadata
  * world `metaRoot` at snapshot `snapId` (an EMPTY metaRoot is a DROP
  * tombstone).
  */
private[graft] case class CatalogLogRow(
    version: Long, table: String, metaRoot: String, snapId: Long)

/** THE CATALOG POINTER LOG's read and compare-and-swap append — an
  * append-only `catalog_log` of (version, table_name, meta_root,
  * snap_id) rows, a table's current state being its highest-version row.
  * Each commit appends ONE file through [[LakeMeta.write]], so readers
  * observe a commit whole or not at all.
  */
private[graft] object LakeCatalogLog {
  private val Schema = LakeMeta.schemaOf("version" -> LongType,
    "table_name" -> StringType, "meta_root" -> StringType, "snap_id" -> LongType)

  def rows(logDir: String): IndexedSeq[CatalogLogRow] =
    LakeMeta.read(logDir).map(r => CatalogLogRow(r.long("version"),
      r.str("table_name"), r.str("meta_root"), r.long("snap_id")))

  /** The highest-version row per table name, from one log read. */
  def tips(rows: Seq[CatalogLogRow]): Map[String, CatalogLogRow] =
    rows.groupBy(_.table).map { case (t, rs) => t -> rs.maxBy(_.version) }

  /** Per-log monitor serializing the read-validate-append sequence of
    * [[commit]]/[[commitAll]] within this JVM — without it two
    * same-process writers can both pass the CAS check and append
    * duplicate versions. Across processes a real catalog gets this from
    * the store (conditional PUT / rename-if-absent); the monitor is the
    * single-JVM stand-in for that primitive.
    */
  private val catalogLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Append one catalog commit under COMPARE-AND-SWAP: the commit names
    * the version it expects to be current; a stale expectation (another
    * writer won the race) REFUSES so the loser re-resolves and retries —
    * the atomic-swap contract every catalog implements. Returns the new
    * version.
    */
  def commit(logDir: String, table: String, expectedVersion: Long,
      metaRoot: String, snapId: Long): Long =
    commitAll(logDir, Seq((table, expectedVersion, metaRoot, snapId))).head

  /** MULTI-TABLE ATOMIC COMMIT — the cross-table transaction a derived-
    * table refresh needs (fact + its rollup must move together):
    * validate EVERY table's CAS expectation first, then append all rows
    * as ONE file, so log readers observe every table's new version or
    * none. Any stale expectation refuses the whole transaction before a
    * byte is written — CatalogSpec pins both-or-neither.
    */
  def commitAll(logDir: String,
      commits: Seq[(String, Long, String, Long)]): Seq[Long] =
    catalogLocks.computeIfAbsent(logDir, _ => new Object).synchronized {
      // a table may move only ONCE per transaction — duplicate names
      // would append two rows at the same new version
      val dup = commits.groupBy(_._1).collect { case (t, cs) if cs.size > 1 => t }
      require(dup.isEmpty,
        s"duplicate tables in one transaction: ${dup.mkString(", ")}")
      val cur = tips(rows(logDir))
      commits.foreach { case (t, exp, _, _) =>
        val c = cur.get(t).map(_.version).getOrElse(-1L)
        require(c == exp,
          s"catalog CAS failed for $t: expected v$exp, current is v$c " +
            "— re-resolve and retry" +
            (if (commits.size > 1) " (no table committed)" else ""))
      }
      val out = commits.map { case (t, exp, root, snap) =>
        CatalogLogRow(exp + 1L, t, root, snap) }
      LakeMeta.write(Paths.get(LakeResolver.normLocal(logDir)), Schema, out)
      out.map(_.version)
    }
}
