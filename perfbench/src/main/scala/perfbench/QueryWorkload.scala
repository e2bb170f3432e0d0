package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query workload: a fixed list of `SparkEntry.queries` entries drawn
  * from all eight query packs, run in this order on the generated tables.
  * The list is fixed so that every run measures the same work; see
  * perfbench/README.md for why each query is on it. */
object QueryWorkload {
  val packs: Seq[(String, QueryPack)] = Seq(
    "Core" -> CoreQueries, "Score" -> ScoreQueries, "Text" -> TextQueries,
    "Similarity" -> SimilarityQueries, "Reshape" -> ReshapeQueries,
    "Misc" -> MiscQueries, "Lifecycle" -> LifecycleQueries,
    "Multimodal" -> MultimodalQueries)

  val names: Seq[String] = Seq(
    // relational / ETL / scores: fixed per-query planning and scheduling
    "q1_agg", "a2_fleet_median", "w5_asof_join", "s4_descriptions",
    // lifecycle: p6 persists without releasing; w4 runs ops.Sync
    "p6_price_extract", "w4_scd_roundtrip",
    // training-data operators: executor task time, shuffle, sketches
    "t20_bpe_tokens", "d3_minhash_lsh", "m4_image_dedup",
    // stored index: artifact write/open, fingerprint validation, collects
    "x22_ivf_stored")

  def packOf(name: String): String =
    packs.collectFirst { case (p, q) if q.queries.contains(name) => p }.get

  def select: Seq[(String, String)] = names.map(n => n -> packOf(n))
}

final class QueryWorkload(spark: SparkSession, conf: Main.Conf, val ops: Seq[(String, String)])
    extends Workload {
  private val fns = SparkEntry.queries
  val warmRounds = 3

  def build(op: String): Option[DataFrame] = Some(fns(op)(spark, conf.data))

  /** Writes every query's output as parquet (the layout tools/check.py
    * reads) plus the oracle SQL of the selected queries. The pass is
    * untimed, so its queries run `cpus` at a time: on a cold JVM most of a
    * query's time is code generation and JIT, which overlaps well. */
  def checkPass(out: Json.Obj): Unit = {
    val dir = Paths.get(conf.work, "check")
    Files.createDirectories(dir)
    val times = new Json.Obj
    val pool = java.util.concurrent.Executors.newFixedThreadPool(conf.cpus)
    try {
      val tasks = ops.map { case (op, _) =>
        pool.submit(new java.util.concurrent.Callable[(String, Double, Option[String])] {
          def call() = {
            val t0 = System.nanoTime()
            val err =
              try {
                fns(op)(spark, conf.data).coalesce(1).write.mode("overwrite")
                  .parquet(dir.resolve(op).toString)
                None
              } catch { case e: Throwable =>
                Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
              }
            (op, (System.nanoTime() - t0) / 1e9, err)
          }
        })
      }
      tasks.map(_.get()).foreach { case (op, sec, err) =>
        times(op) = sec
        err.foreach(times(s"$op.error") = _)
      }
    } finally pool.shutdownNow()
    out("check_runs") = times
    val names = ops.map(_._1).toSet
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names(k) }
    Files.write(dir.resolve("oracle_sql.json"), Json.render(oracle).getBytes(UTF_8))
  }
}
