package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.plans.PlanProbe
import graft.sources.{QuantileView, SnapshotStore}

/** view-maintain: two clients, closed loop, over TPC-H-shaped stores and a
  * series store. The maintainer commits the seeded delta stream through
  * `SnapshotStore` and refreshes the views that depend on the changed
  * table; the reader serves the query shapes the rewrite rules answer. All
  * views are created `STALE => 'true'`, so a read between a commit and its
  * refresh takes the compensated path. Loads `graft.sources` and
  * `graft.plans`. */
object ViewMaintain {

  private val Dims = Seq("region", "nation", "customer", "orders", "lineitem")

  /** Which views read which store. */
  private val Dependents = Map(
    "series" -> Seq("rollup", "quantile"),
    "orders" -> Seq("join", "agg_join", "multi_agg_join"),
    "lineitem" -> Seq("agg_join", "multi_agg_join"),
    "customer" -> Seq("join", "multi_agg_join"))

  private val TableOf = Map("append_series" -> "series", "append_lineitem" -> "lineitem",
    "churn_customer" -> "customer")

  /** Serve shapes: the tables each reads and its SQL. */
  private val Shapes: Seq[(String, Seq[String], String)] = Seq(
    ("rollup", Seq("series"),
      """SELECT metric, e div 86400 AS day, count(1) AS n, min(value) AS lo,
        |  max(value) AS hi FROM series GROUP BY metric, e div 86400""".stripMargin),
    ("join", Seq("orders", "customer"),
      """SELECT o_orderkey, o_totalprice, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin),
    ("agg_join", Seq("lineitem", "orders"),
      """SELECT o_orderpriority, count(1) AS n,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS t
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin),
    ("multi_agg_join", Seq("lineitem", "orders", "customer", "nation", "region"),
      """SELECT r_name, c_mktsegment, count(1) AS n,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS t
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, c_mktsegment""".stripMargin),
    ("quantile", Seq("series"),
      """SELECT metric, e div 86400 AS bucket,
        |  percentile_approx(value, 0.9, 1000) AS p90
        |FROM series GROUP BY metric, e div 86400""".stripMargin))

  /** DuckDB oracle SQL per shape (tables substituted by snapshot scans). */
  private val Oracle = Map(
    "rollup" -> """SELECT metric, e // 86400 AS day, count(*) AS n, min(value) AS lo,
                  |  max(value) AS hi FROM series GROUP BY ALL""".stripMargin,
    "join" -> """SELECT o_orderkey, o_totalprice, c_mktsegment
                |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "agg_join" -> """SELECT o_orderpriority, count(*) AS n,
                    |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS t
                    |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    |GROUP BY ALL""".stripMargin,
    "multi_agg_join" -> """SELECT r_name, c_mktsegment, count(*) AS n,
                          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS t
                          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                          |  JOIN customer ON o_custkey = c_custkey
                          |  JOIN nation ON c_nationkey = n_nationkey
                          |  JOIN region ON n_regionkey = r_regionkey
                          |GROUP BY ALL""".stripMargin)

  private final case class Delta(id: Int, kind: String, rows: Long, deleteKeys: Seq[Long]) {
    def table: String = TableOf(kind)
  }

  def run(h: Harness): Unit = new ViewMaintain(h).run()

  private def seriesOf(events: DataFrame, extra: String*): DataFrame =
    events.select(Seq(col("event_type").as("metric"),
      graft.Tables.tsEpochSeconds(events).as("e"), col("value")) ++ extra.map(col): _*)

  private def dirStats(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally s.close()
    }
  }
}

private final class ViewMaintain(h: Harness) {
  import ViewMaintain._

  private val spark: SparkSession = h.spark
  private val tracer = h.tracer
  private def root(t: String) = s"${h.work}/stores/$t"
  private def view(k: String) = s"${h.work}/views/$k"
  @volatile private var running = false
  private val serves = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Boolean]]()
  // traced-only store/view write accounting; a delta's size in bytes is
  // its rows times the generated delta file's bytes per row
  private var commitFiles, commitBytes, viewBytes, deltaBytes = 0L
  private var commits, refreshes, noopRefreshes = 0
  private val bytesPerRow = mutable.Map[String, Double]().withDefaultValue(0.0)

  def run(): Unit = {
    h.setupPart("stores") {
      h.parallel(Dims.map(t => () =>
        SnapshotStore.append(spark.read.parquet(s"${h.inputs}/$t.parquet"), root(t)): Unit) :+
        (() => SnapshotStore.append(seriesOf(spark.read.parquet(s"${h.inputs}/events.parquet")),
          root("series")): Unit))
    }
    val specs = Seq(
      "rollup" -> s"ROLLUP(SRC => '${root("series")}', STALE => 'true')",
      "join" -> (s"JOIN(LEFT => '${root("orders")}', RIGHT => '${root("customer")}', " +
        "LEFT_KEYS => 'o_custkey', RIGHT_KEYS => 'c_custkey', STALE => 'true')"),
      "agg_join" -> (s"AGG_JOIN(LEFT => '${root("lineitem")}', RIGHT => '${root("orders")}', " +
        "LEFT_KEYS => 'l_orderkey', RIGHT_KEYS => 'o_orderkey', " +
        "GROUPS => 'o_orderpriority', MEASURES => 'l_extendedprice', STALE => 'true')"),
      "multi_agg_join" -> (s"MULTI_AGG_JOIN(ROOTS => '${
        Seq("lineitem", "orders", "customer", "nation", "region").map(root).mkString(";")}', " +
        "EDGES => '0:l_orderkey:o_orderkey;1:o_custkey:c_custkey;" +
        "2:c_nationkey:n_nationkey;3:n_regionkey:r_regionkey', " +
        "GROUPS => 'r_name,c_mktsegment', MEASURES => 'l_extendedprice', STALE => 'true')"),
      "quantile" -> s"QUANTILE(SRC => '${root("series")}', SERVE => 'true', STALE => 'true')")
    h.setupPart("views") {
      h.parallel(specs.map { case (k, spec) => () =>
        spark.sql(s"CREATE MATERIALIZED VIEW '${view(k)}' AS $spec").collect(): Unit
      })
    }
    val (cycle, deltas, frames) = h.setupPart("deltas")(loadDeltas())
    // Warm-up: one serve of every shape, so the reader's first timed
    // serves do not pay first-use planning and codegen, and the stream's
    // first cycle (one delta of each kind), committed and refreshed.
    h.setupPart("warmup") {
      h.parallel(Seq(
        () => Shapes.foreach(s => h.execute(serveFrame(s))),
        () => deltas.take(cycle).foreach { d =>
          commit(d, frames)
          Dependents(d.table).foreach(refresh)
        }))
    }
    var next = cycle
    h.measure { (end, _) =>
      running = true
      val reader = new Thread(() => readLoop(), "perfbench-reader")
      reader.start()
      // whole cycles until the window has passed
      try while (Clock.nowMs < end && next + cycle <= deltas.size) {
        deltas.slice(next, next + cycle).foreach(maintain(_, frames))
        next += cycle
      } finally {
        running = false
        reader.join()
      }
    }
    // Output check, untimed, after the window: one more series append
    // without its refresh, so rollup and quantile serve through the
    // compensated path while the join views serve fresh.
    deltas.drop(next).find(_.kind == "append_series").foreach(commit(_, frames))
    checkpoint()
    if (tracer.enabled) {
      val live = (Dims :+ "series").map { t =>
        SnapshotStore.manifestDirs(root(t), SnapshotStore.currentVersion(root(t)))
          .map(d => dirStats(d.stripPrefix("file:"))._2).sum
      }.sum
      val all = (Dims :+ "series").map(t => dirStats(root(t))._2).sum
      h.extra("store") = Map(
        "files_per_commit" -> commitFiles.toDouble / math.max(1, commits),
        "bytes_written_per_delta_byte" -> commitBytes.toDouble / math.max(1L, deltaBytes),
        "space_per_live_byte" -> all.toDouble / math.max(1L, live))
      h.extra("views") = Map(
        "bytes_written_per_delta_byte" -> viewBytes.toDouble / math.max(1L, deltaBytes),
        "noop_refresh_ratio" -> noopRefreshes.toDouble / math.max(1, refreshes))
      h.extra("serves") = serves.asScala.toSeq
    }
  }

  /** The delta stream: deltas.json plus one parquet per delta table, held
    * in driver memory so a commit builds its frame without a scan. */
  private def loadDeltas(): (Int, IndexedSeq[Delta], Map[(String, Int), DataFrame]) = {
    val js = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"${h.inputs}/deltas.json"))
    val deltas = js.get("deltas").elements().asScala.map { d =>
      Delta(d.get("id").asInt, d.get("kind").asText, d.get("rows").asLong,
        Option(d.get("delete_keys")).map(_.elements().asScala.map(_.asLong).toSeq)
          .getOrElse(Nil))
    }.toIndexedSeq
    val frames = Seq("lineitem", "customer", "events").flatMap { t =>
      val f = s"${h.inputs}/deltas/$t.parquet"
      if (!Files.exists(Paths.get(f))) Nil
      else {
        val raw = spark.read.parquet(f)
        val df = if (t == "events") seriesOf(raw, "delta_id") else raw
        val schema = StructType(df.schema.filterNot(_.name == "delta_id"))
        val idx = df.schema.fieldIndex("delta_id")
        val rows = df.collect()
        bytesPerRow(if (t == "events") "series" else t) =
          Files.size(Paths.get(f)).toDouble / math.max(1, rows.length)
        rows.groupBy(_.getInt(idx)).toSeq.map { case (id, rows) =>
          val stripped = rows.map(r => Row.fromSeq(r.toSeq.patch(idx, Nil, 1))).toSeq
          (if (t == "events") "series" else t, id) ->
            spark.createDataFrame(stripped.asJava, schema)
        }
      }
    }.toMap
    (js.get("cycle").asInt, deltas, frames)
  }

  private def commit(d: Delta, frames: Map[(String, Int), DataFrame]): Unit = d.kind match {
    case "churn_customer" =>
      SnapshotStore.upsert(spark, frames(("customer", d.id)), root("customer"), Seq("c_custkey"))
      SnapshotStore.deleteWhere(spark, root("customer"), col("c_custkey").isin(d.deleteKeys: _*))
    case _ => SnapshotStore.append(frames((d.table, d.id)), root(d.table))
  }

  private def refresh(v: String): Unit = {
    val before = SnapshotStore.currentVersion(view(v))
    val after = spark.sql(s"REFRESH MATERIALIZED VIEW '${view(v)}'").collect().head.getInt(1)
    if (tracer.enabled) synchronized {
      refreshes += 1
      if (after == before) noopRefreshes += 1
    }
  }

  /** One timed delta: its commit and the refresh of every dependent view
    * (the freshness of that delta). */
  private def maintain(d: Delta, frames: Map[(String, Int), DataFrame]): Unit = {
    val deps = Dependents(d.table)
    val before = if (tracer.enabled) Some((dirStats(root(d.table)),
      deps.map(v => dirStats(view(v))._2).sum)) else None
    tracer.op("delta", d.kind, d.rows) {
      tracer.span("sources.store.commit")(commit(d, frames))
      deps.foreach(v => tracer.span(s"sources.views.$v.refresh")(refresh(v)))
    }
    before.foreach { case ((f0, b0), v0) =>
      val (f1, b1) = dirStats(root(d.table))
      commits += 1
      commitFiles += f1 - f0
      commitBytes += b1 - b0
      viewBytes += deps.map(v => dirStats(view(v))._2).sum - v0
      deltaBytes += (d.rows * bytesPerRow(d.table)).toLong
    }
  }

  /** The reader: the shapes round-robin, in the same order every run, so
    * each shape meets the same maintainer steps from run to run (the seed
    * varies the data). */
  private def readLoop(): Unit = {
    var round = Seq.empty[(String, Seq[String], String)]
    while (running) {
      if (round.isEmpty) round = Shapes
      val shape = round.head
      round = round.tail
      tracer.op("serve", shape._1) {
        val df = serveFrame(shape)
        h.execute(df)
        if (tracer.enabled) {
          val roots = PlanProbe.scanRoots(df)
          val hit = roots.exists(_.contains(view(shape._1)))
          serves.add(Seq(hit, hit && roots.exists(r => !r.contains(s"${h.work}/views/"))))
        }
      }
    }
  }

  /** Bind the shape's tables to their current snapshots and plan it (the
    * rewrite rules run during analysis, inside the `plans.sql` span). */
  private def serveFrame(shape: (String, Seq[String], String)): DataFrame = {
    tracer.span("sources.store.read") {
      shape._2.foreach(t => SnapshotStore.read(spark, root(t)).createOrReplaceTempView(t))
    }
    tracer.span("plans.sql")(spark.sql(shape._3))
  }

  /** Untimed output check (after the window): each served answer against
    * a from-scratch computation at the same source versions. Exact shapes
    * are written out for run.py's DuckDB oracle; the quantile shape is
    * checked here against the exact percentile within the view's stated
    * bound, 2 bin widths. */
  private def checkpoint(): Unit = {
    val dir = s"${h.work}/check"
    val oracle = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    def scan(t: String): String = {
      val dirs = SnapshotStore.manifestDirs(root(t), SnapshotStore.currentVersion(root(t)))
        .map(d => s"'${d.stripPrefix("file:")}/*.parquet'")
      s"read_parquet([${dirs.mkString(",")}], union_by_name = true)"
    }
    h.parallel(Shapes.map { case shape @ (name, tables, _) => () =>
      val df = serveFrame(shape)
      if (name == "quantile") {
        val exact = SnapshotStore.read(spark, root("series"))
          .groupBy(col("metric"), expr("e div 86400").as("bucket"))
          .agg(expr("percentile(value, 0.9)").as("exact"))
        val w = QuantileView.edgesFor(spark, view("quantile")).select("metric", "w")
        val bad = df.join(exact, Seq("metric", "bucket"), "full_outer").join(w, Seq("metric"), "left")
          .where(col("p90").isNull || col("exact").isNull || col("w").isNull ||
            abs(col("p90") - col("exact")) > col("w") * 2)
          .count()
        results.add(Map("name" -> name, "ok" -> (bad == 0), "violations" -> bad))
      } else {
        df.select(df.schema.fields.map { f =>
          if (f.dataType.isInstanceOf[DecimalType]) col(f.name).cast("string").as(f.name)
          else col(f.name)
        }.toSeq: _*).write.mode("overwrite").parquet(s"$dir/$name")
        oracle.put(name, tables.map(t => s"$t AS (SELECT * FROM ${scan(t)})")
          .mkString("WITH ", ",\n", "\n") + Oracle(name))
        results.add(Map("name" -> name, "ok" -> true))
      }
    })
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/oracle_sql.json"), Json.write(oracle.asScala).getBytes("UTF-8"))
    h.extra("checkpoints") = results.asScala.toSeq
    h.extra("oracle_dirs") = Seq(dir)
  }
}
