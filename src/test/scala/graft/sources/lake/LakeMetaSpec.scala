package graft.sources.lake

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side metadata path ([[LakeMeta]] / [[LakeCatalogLog]])
  * interoperates with Spark's parquet both ways: metadata it writes reads
  * back identically through `spark.read.parquet`, the library's
  * `graft.Tables.readCached` and the `<table>.snapshots` /
  * `<table>.manifests` metadata tables, and a zero-row Spark-written
  * `catalog_log` takes its appends. (LakeConnectorSpec pins the reverse
  * direction over the Spark-written fixture worlds.)
  */
class LakeMetaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("LakeMetaSpec")
    .getOrCreate()

  /** A fresh catalog over a zero-row, Spark-written pointer log. */
  private lazy val catalogRoot: String = {
    import spark.implicits._
    val root = graft.Fixtures.tempDir("graft_meta_cat").toString
    Seq.empty[(Long, String, String, Long)]
      .toDF("version", "table_name", "meta_root", "snap_id")
      .coalesce(1).write.parquet(s"$root/catalog_log")
    spark.conf.set("spark.sql.catalog.graft_meta",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_meta.catalogDir", root)
    root
  }

  private def sparkRows(path: String, cols: String*): Set[Seq[Any]] =
    spark.read.parquet(path).select(cols.head, cols.tail: _*).collect()
      .map(_.toSeq).toSet

  test("a zero-row Spark-written catalog_log reads empty and takes " +
      "direct appends that Spark reads back") {
    val log = s"$catalogRoot/catalog_log"
    assert(LakeMeta.files(log).size == 1, "Spark wrote no zero-row file")
    assert(LakeCatalogLog.rows(log).isEmpty)
    spark.sql("CREATE TABLE graft_meta.t (l_orderkey BIGINT, v BIGINT, " +
      "p STRING) PARTITIONED BY (p)")
    spark.sql("INSERT INTO graft_meta.t VALUES (1, 10, 'a'), (2, 20, 'b')")
    spark.sql("DELETE FROM graft_meta.t WHERE l_orderkey = 2")
    val direct = LakeCatalogLog.rows(log)
      .map(r => Seq[Any](r.version, r.table, r.metaRoot, r.snapId)).toSet
    assert(direct.size == 3)
    val cols = Seq("version", "table_name", "meta_root", "snap_id")
    assert(sparkRows(log, cols: _*) == direct)
    assert(graft.Tables.readCached(spark, log).select(cols.head, cols.tail: _*)
      .collect().map(_.toSeq).toSet == direct)
    assert(spark.sql("SELECT l_orderkey, v FROM graft_meta.t").collect().toSeq ==
      Seq(Row(1L, 10L)))
  }

  test("directly written manifests, snapshots and delete files read back " +
      "identically through Spark and the metadata tables") {
    spark.sql("CREATE TABLE graft_meta.m (l_orderkey BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    spark.sql("INSERT INTO graft_meta.m VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    spark.sql("DELETE FROM graft_meta.m WHERE l_orderkey = 3")
    val tip = LakeCatalogLog.tips(LakeCatalogLog.rows(
      s"$catalogRoot/catalog_log"))("m")
    val root = tip.metaRoot

    val snapCols = Seq("snap_id", "op", "parent_id")
    val snaps = LakeMeta.read(s"$root/snapshots")
      .map(r => Seq[Any](r.long("snap_id"), r.str("op"), r.long("parent_id"))).toSet
    assert(snaps.map(_(1)) == Set("create", "append", "eq_delete"))
    assert(sparkRows(s"$root/snapshots", snapCols: _*) == snaps)
    assert(spark.sql("SELECT snap_id, op, parent_id FROM graft_meta.m.snapshots")
      .collect().map(_.toSeq).toSet == snaps)

    // the tip root's own manifest rows, and the chain the metadata table
    // spans, both equal their normalized direct reads
    val manCols = Seq("snap_id", "content", "file", "base", "seq", "key_col")
    def asRows(es: Seq[(Long, LakeEntry)]): Set[Seq[Any]] = es.map { case (id, e) =>
      Seq[Any](id, e.content, e.file, e.base, e.seq, e.keyCol) }.toSet
    val own = asRows(LakeFilters.normalizedManifests(root)
      .filter(_._1 == tip.snapId))
    assert(own.map(_(1)) == Set("data", "eq_del"))
    assert(sparkRows(s"$root/manifests", manCols: _*) == own)
    assert(spark.sql(s"SELECT ${manCols.mkString(", ")} FROM " +
        "graft_meta.m.manifests").collect().map(_.toSeq).toSet ==
      asRows(LakeFilters.normalizedManifests(root)))

    // the equality-delete file the DELETE wrote
    val eq = own.collectFirst { case r if r(1) == "eq_del" => r(2).toString }.get
    assert(sparkRows(eq, "k", "seq_del") == Set(Seq[Any](3L, own.collectFirst {
      case r if r(1) == "eq_del" => r(4) }.get)))
  }

  test("the manifests metadata table takes its columns from the tip root " +
      "when an older chain root has the legacy layout") {
    import spark.implicits._
    // a root that sorts before every commit root (`graft_lake*`) and
    // carries the legacy (snap_id, file) manifests, base on the snapshot
    val legacy = graft.Fixtures.tempDir("graft_aaa_legacy")
    Seq((1L, 10L)).toDF("l_orderkey", "v").coalesce(1)
      .write.parquet(legacy.resolve("data").toString)
    val dataFile = LakeMeta.files(legacy.resolve("data").toString).head
    Seq((0L, dataFile)).toDF("snap_id", "file").coalesce(1)
      .write.parquet(legacy.resolve("manifests").toString)
    Seq((0L, "append", -1L, legacy.resolve("data").toString, ""))
      .toDF("snap_id", "op", "parent_id", "base", "idx").coalesce(1)
      .write.parquet(legacy.resolve("snapshots").toString)
    LakeCatalogLog.commit(s"$catalogRoot/catalog_log", "legacy", -1L,
      legacy.toString, 0L)
    spark.sql("INSERT INTO graft_meta.legacy VALUES (2, 20)")

    val man = spark.table("graft_meta.legacy.manifests")
    assert(Seq("snap_id", "content", "file", "base", "seq", "key_col")
      .forall(man.columns.contains), man.columns.mkString(","))
    assert(man.select("snap_id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 1L))
    assert(spark.sql("SELECT l_orderkey FROM graft_meta.legacy")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }
}
