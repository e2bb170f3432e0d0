package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.{DriverManager, Timestamp}

import graft.analytics.WorkloadScores
import graft.ingest.VendorIngest
import graft.ops.Sync
import graft.schema.{Schemas, Validate}
import graft.sinks.{DdlGen, Upsert}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Vendor-inventory lifecycle, the only workload that writes: ingest raw
  * priced products → conform/partition → initial load into in-memory Derby
  * → ingest the second snapshot → hash-diff sync → upsert the standard
  * rows → append the SCD twin → workload scores with breakdown. Each pass
  * starts from an empty database; its frames are cached for the pass only
  * and released by the workload itself at the end of the pass. */
final class RefreshWorkload(spark: SparkSession, conf: Main.Conf) extends Workload {
  private def input(name: String) = spark.read.parquet(Paths.get(conf.data, s"$name.parquet").toString)
  private val regions = input("regions")
  private val offerings = input("offerings")
  private val scores = input("scores")
  private val (schema, pks) = Schemas.tables("server_price")
  private val scdPks = Schemas.scdKey("server_price")
  private val t1 = Timestamp.valueOf("2026-01-01 00:00:00")
  private val t2 = Timestamp.valueOf("2026-02-01 00:00:00")
  private val entries = WorkloadScores.entriesDf(spark, Seq(
    ("memory", 0, "bw_mem:rd", 2.0, true, "ignore", 1e-4),
    ("memory", 1, "bw_mem:wr", 1.0, true, "ignore", 1e-4),
    ("web", 0, "redis:rps", 1.0, true, "penalize", 0.5),
    ("web", 1, "stress:cpu", 3.0, true, "ignore", 1e-4)))

  /** Planted counts written by the generator. */
  private val expected: Map[String, Long] = {
    val txt = new String(Files.readAllBytes(Paths.get(conf.data, "expected.json")), UTF_8)
    "\"(\\w+)\": (\\d+)".r.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  val ops: Seq[(String, String)] = Seq(
    "ingest_snapshot1" -> "ingest.vendor", "conform_snapshot1" -> "schema.conform",
    "load_initial" -> "sinks.load",
    "ingest_snapshot2" -> "ingest.vendor", "conform_snapshot2" -> "schema.conform",
    "sync" -> "ops.sync", "upsert_standard" -> "sinks.upsert", "append_scd" -> "sinks.scd",
    "workload_scores" -> "analytics.scores")

  override def resetAfterOp: Boolean = false
  val warmRounds = 2

  override def rowsPerPass: Long =
    expected("initial_rows") + expected("final_rows") - expected("sync_deleted")

  private var url = ""
  private var passSeq = 0
  private val frames = scala.collection.mutable.Map.empty[String, DataFrame]
  private var syncResult: Sync.SyncResult = _

  private def ingest(raw: DataFrame, observed: Timestamp): DataFrame = {
    val priced = VendorIngest.joinRegionByAlias(raw, regions, "location")
      .withColumn("price", VendorIngest.extractOnDemandPrice(col("terms")))
      .withColumn("currency", VendorIngest.extractCurrency(col("terms")))
    VendorIngest.zoneFanout(priced, offerings)
      .withColumn("anno", VendorIngest.annotateInstanceType(col("instance_type")))
      .select(lit("aws").as("vendor_id"), col("region_id"), col("zone_id"),
        col("instance_type").as("server_id"), col("operating_system"),
        lit("ondemand").as("allocation"), lit("hour").as("unit"),
        col("price"), col("currency"), col("anno.description").as("description"),
        lit(observed).as("observed_at"))
  }

  private def conform(fanned: DataFrame, tag: String): DataFrame = {
    val (valid, invalid) = Validate.partition(
      Validate.conform(fanned, schema, Map("status" -> "active")), schema)
    frames(s"invalid$tag") = invalid
    valid.persist()
  }

  override def beginPass(): Unit = {
    passSeq += 1
    url = s"jdbc:derby:memory:perfbench_$passSeq"
    val c = DriverManager.getConnection(s"$url;create=true")
    try {
      c.createStatement().execute(DdlGen.createTable("server_price", schema, pks, DdlGen.Derby))
      c.createStatement().execute(
        DdlGen.createTable("server_price_scd", schema, scdPks, DdlGen.Derby))
    } finally c.close()
  }

  def build(op: String): Option[DataFrame] = op match {
    case "ingest_snapshot1" =>
      frames("fanned1") = ingest(input("snapshot1"), t1).persist(); frames.get("fanned1")
    case "conform_snapshot1" =>
      frames("valid1") = conform(frames("fanned1"), "1"); frames.get("valid1")
    case "load_initial" =>
      Upsert.writeJdbc(frames("valid1"), url, "server_price", pks, DdlGen.Derby); None
    case "ingest_snapshot2" =>
      frames("fanned2") = ingest(input("snapshot2"), t2).persist(); frames.get("fanned2")
    case "conform_snapshot2" =>
      frames("valid2") = conform(frames("fanned2"), "2"); frames.get("valid2")
    case "sync" =>
      syncResult = Sync.sync(frames("valid2"), frames("valid1"), pks, lit(t2)); None
    case "upsert_standard" =>
      Upsert.writeJdbc(syncResult.standard, url, "server_price", pks, DdlGen.Derby); None
    case "append_scd" =>
      Upsert.writeJdbc(syncResult.scd, url, "server_price_scd", scdPks, DdlGen.Derby); None
    case "workload_scores" =>
      frames("scores") = WorkloadScores.compute(scores, entries, Seq("unit_id"),
        withBreakdown = true)
      frames.get("scores")
  }

  /** Derby state, sync stats and score shares against the planted set. */
  override def endPass(): Seq[String] = {
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Long, want: Long): Unit =
      if (got != want) bad += s"pass $passSeq: $what = $got, planted $want"
    val c = DriverManager.getConnection(url)
    try {
      def count(sql: String): Long = {
        val rs = c.createStatement().executeQuery(sql); rs.next(); rs.getLong(1)
      }
      expect("server_price rows", count("SELECT COUNT(*) FROM server_price"), expected("final_rows"))
      expect("inactive rows",
        count("SELECT COUNT(*) FROM server_price WHERE status = 'inactive'"), expected("final_inactive"))
      expect("scd rows", count("SELECT COUNT(*) FROM server_price_scd"), expected("scd_rows"))
    } finally c.close()
    Seq("new", "update", "deleted", "unchanged").foreach { k =>
      expect(s"sync $k", syncResult.stats.getOrElse(k, 0L), expected(s"sync_$k"))
    }
    expect("invalid rows", frames("invalid1").count() + frames("invalid2").count(), 0L)
    val rows = frames("scores").collect()
    expect("score rows", rows.length.toLong, expected("n_units") * 2)
    val off = rows.count { r =>
      val comps = r.getSeq[Row](r.fieldIndex("breakdown"))
      comps.nonEmpty && math.abs(comps.map(_.getAs[Double]("weight_share")).sum - 1.0) > 1e-9
    }
    expect("score rows whose weight shares do not sum to 1", off.toLong, 0L)
    frames.values.foreach(_.unpersist(blocking = true))
    frames.clear()
    try DriverManager.getConnection(s"$url;drop=true")
    catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception
    bad.toSeq
  }

  def checkPass(out: Json.Obj): Unit = {
    beginPass()
    val t = new Json.Obj
    ops.foreach { case (op, _) =>
      val t0 = System.nanoTime()
      build(op).foreach(_.queryExecution.toRdd.count())
      t(op) = (System.nanoTime() - t0) / 1e9
    }
    out("check_runs") = t
    out("check_failures") = Json.Arr(endPass(): _*)
  }
}
