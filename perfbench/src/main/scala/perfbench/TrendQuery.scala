package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** trend-query: one client, closed loop, running a seeded sequence of
  * registered trend-family queries over the generated events directory.
  * Loads `graft.operators`, Catalyst and Spark execution; no store, views
  * or streaming. */
object TrendQuery {

  /** The query mix: the flagship banded extents, decimation, the bounded
    * scan, retention and the cold-start pipeline that chains them. Their
    * DuckDB oracles stay cheap at this input size. */
  val Mix: Seq[String] = Seq("a2_banded_extents", "f1_decimate", "s1_bounded_scan",
    "m3_retention", "pipeline_cold_start")

  /** Untimed executions of each query after its checked one: without
    * them the first timed round ran 30-70 % slower than later ones, as the
    * JIT was still compiling the queries' hot paths. */
  val WarmRounds = 1

  def run(h: Harness): Unit = {
    val spark = h.spark
    SparkEntry.configureOracleExport(s"${h.work}/oracle_export", enabled = false)
    // Warm-up and output check in one: every query of the mix, one thread
    // each, writes its result (run.py compares them with the registered
    // oracle SQL) and then runs WarmRounds more times, so JIT, codegen and
    // footer caches are paid in set-up rather than by the timed rounds.
    val out = s"${h.work}/check"
    h.setupPart("warmup") {
      h.parallel(Mix.map(q => () => {
        SparkEntry.queries(q)(spark, h.inputs).write.mode("overwrite").parquet(s"$out/$q")
        (1 to WarmRounds).foreach(_ => h.execute(SparkEntry.queries(q)(spark, h.inputs)))
      }))
    }
    val oracle = Mix.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    Files.write(Paths.get(s"$out/oracle_sql.json"), Json.write(oracle).getBytes("UTF-8"))
    h.extra("oracle_dirs") = Seq(out)
    // Whole rounds of the mix in a seeded order, until the window has
    // passed: every run times the same mix, whatever its seed.
    val rng = new scala.util.Random(h.seed)
    h.measure { (deadline, _) =>
      while (Clock.nowMs < deadline) {
        rng.shuffle(Mix).foreach { q =>
          h.tracer.op("query", q) {
            val df = h.tracer.span(s"operators.$q")(SparkEntry.queries(q)(spark, h.inputs))
            h.execute(df)
          }
        }
      }
    }
  }
}
