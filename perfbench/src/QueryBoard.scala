package perfbench

import graft.SparkEntry
import graft.sources.Tables
import org.apache.spark.sql.{Row, SparkSession}

import scala.collection.mutable

/** `query_board`: a closed loop with one client over registered batch
  * queries and `spark.sql` table-function statements, against the
  * seeded tables `gen.py` wrote. One cold pass, then interleaved warm
  * rounds ([[warmRounds]]); every entry's result rows are compared
  * across its runs, and `run.py` checks the cold result of each query
  * with a DuckDB oracle.
  */
object QueryBoard {

  final case class Entry(name: String, family: String, sql: Option[String])

  /** Registered queries and the operator family they come from: the
    * paper's batch alert pipeline and the relational family's heaviest
    * warm query on the 262-query sf0.1 board
    * (`bench/BENCH_local_r18_final8.json`); more entries do not fit the
    * run's time budget (see perfbench/README.md). */
  val Queries: Seq[(String, String)] = Seq(
    "q_alert_pipeline" -> "ReferenceOps",
    "q_profile" -> "RelationalOps")

  /** Table-function statement through the `GraftExtensions` surface,
    * against temp views made in set-up: an LSH index build and probe
    * (the index-probe path of the similarity family). */
  val Statements: Seq[(String, String)] = Seq(
    "sql_knn_join" -> "SELECT * FROM knn_join('pb_vecs', 'pb_queries', 5)")

  val entries: Seq[Entry] =
    Queries.map { case (n, f) => Entry(n, f, None) } ++
      Statements.map { case (n, s) => Entry(n, "sql", Some(s)) }

  /** Set-ups per run, each a fresh session, its table load and its cold
    * pass; `setup_s` and `cold_total_s` are medians over them. */
  val SetupReps = 3

  /** Timed warm rounds per run: three per 4 s of `--seconds` (a round
    * takes 1.2-1.6 s on a 4-vCPU box), at least 3. A fixed count, not
    * "until the time is up": a count that followed the clock would move
    * every median with machine speed. */
  def warmRounds(seconds: Double): Int =
    math.max(3, math.floor(seconds * 0.75).toInt)

  /** Untimed rounds between the cold passes and the timed ones: rounds
    * still get faster over the first few while the JIT compiles the
    * board's hot code. */
  val UntimedRounds = 3

  /** The tables the entries read. */
  val BoardTables = Seq("events", "lineitem", "embeddings")

  /** What set-up loaded: seconds, cached partitions, table rows. */
  final case class Loaded(seconds: Double, partitions: Int, rows: Long)

  /** Load and cache the board's tables and make the statements' views. */
  private def load(spark: SparkSession, dir: String): Loaded = {
    spark.range(1000).selectExpr("sum(id) s").count()
    val t0 = System.nanoTime()
    val parts = Tracer.labelled(spark, "sources.load") {
      BoardTables.map { n =>
        val df = Tables(spark, dir, n).persist()
        (df.rdd.getNumPartitions, df.count())
      }
    }
    val loadS = Stats.secs(t0)
    val vecs = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    vecs.createOrReplaceTempView("pb_vecs")
    vecs.filter("vec_id % 50 = 0").createOrReplaceTempView("pb_queries")
    Loaded(loadS, parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** One execution: (rows, seconds, seconds inside `spark.sql`). */
  private def exec(spark: SparkSession, dir: String, e: Entry):
      (Array[Row], Double, Double) = {
    val label = if (e.sql.isDefined) "sql.exec" else s"operators.${e.family}"
    Tracer.labelled(spark, label) {
      val t0 = System.nanoTime()
      val (df, analyze) = e.sql match {
        case Some(s) => Stats.time(Tracer.span("sql.analyze")(spark.sql(s)))
        case None => (SparkEntry.queries(e.name)(spark, dir), 0.0)
      }
      val rows = df.collect()
      (rows, Stats.secs(t0), analyze)
    }
  }

  def run(a: Main.Args, m: Main.Metrics, o: Main.Outcome,
      extra: mutable.LinkedHashMap[String, String]): Unit = {
    val dir = s"${a.work}/tables"
    val setup = mutable.ArrayBuffer[Double]()
    val colds = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    var loaded = Loaded(0.0, 0, 0L)
    val counters = new TaskCounters
    val coldRows = mutable.LinkedHashMap[String, Array[Row]]()
    val schemas = mutable.Map[String, org.apache.spark.sql.types.StructType]()
    val warm = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val analyze = mutable.ArrayBuffer[Double]()
    val sqlExec = mutable.ArrayBuffer[Double]()
    // round < 0: a cold pass; 0: untimed warm round; > 0: timed
    def attempt(e: Entry, round: Int): Double = {
      o.attempted += 1
      try {
        val (rows, s, an) = exec(spark, dir, e)
        if (round < 0) {
          coldRows(e.name) = rows
          if (rows.nonEmpty) schemas(e.name) = rows.head.schema
        } else {
          if (round > 0) {
            warm.getOrElseUpdate(e.name, mutable.ArrayBuffer()) += s
            if (e.sql.isDefined) { analyze(round - 1) += an * 1e3
              sqlExec(round - 1) += s - an }
          }
          if (coldRows.get(e.name).map(_.length) != Some(rows.length))
            o.fail(1, s"${e.name}: round $round returned ${rows.length} " +
              s"rows, cold pass ${coldRows.get(e.name).map(_.length)}")
        }
        s
      } catch { case t: Throwable =>
        o.fail(1, s"${e.name} failed: ${t.getClass.getSimpleName}: " +
          Option(t.getMessage).getOrElse("").take(200))
        Double.NaN
      }
    }
    // each set-up is a fresh session followed by its cold pass; both
    // metrics are medians over the set-ups (the first one in a cold JVM)
    for (rep <- 1 to SetupReps) {
      val t0 = System.nanoTime()
      spark = Main.session(a)
      loaded = load(spark, dir)
      setup += Stats.secs(t0)
      val prev = coldRows.clone()
      colds += entries.map(attempt(_, -1)).sum
      prev.foreach { case (n, rows) =>
        if (coldRows.get(n).map(_.length) != Some(rows.length))
          o.fail(1, s"$n: cold pass $rep returned " +
            s"${coldRows.get(n).map(_.length)} rows, before ${rows.length}")
      }
      Main.note(f"set-up $rep: ${setup.last}%.2f s, cold pass " +
        f"${colds.last}%.2f s")
      if (rep < SetupReps) spark.stop()
    }
    if (a.trace) spark.sparkContext.addSparkListener(counters)

    for (_ <- 1 to UntimedRounds) entries.foreach(attempt(_, 0))
    org.apache.spark.BusDrain.drain(spark.sparkContext)
    counters.reset()

    val rounds = warmRounds(a.seconds)
    val roundCpu = mutable.ArrayBuffer[Double]()
    for (round <- 1 to rounds) {
      analyze += 0.0; sqlExec += 0.0
      val cpu0 = Stats.processCpuS()
      entries.foreach(attempt(_, round))
      roundCpu += Stats.processCpuS() - cpu0
      Main.note(f"warm round $round: " + entries.map(e =>
        f"${e.name}=${warm.get(e.name).map(_.last).getOrElse(Double.NaN)}%.2f")
        .mkString(" "))
      System.gc() // keep rounds storage-comparable, as graft.Bench does
    }
    // the entries' CPU, not the collection between rounds
    val cpu = Stats.median(roundCpu)
    val heap = Stats.retainedHeapMb()

    val medians = entries.map(e =>
      e -> warm.get(e.name).map(Stats.median(_)).getOrElse(Double.NaN))
    val warmTotal = medians.map(_._2).sum
    val samples = warm.values.flatten.map(_ * 1e3).toSeq
    m("setup_s", "s") = Stats.median(setup)
    m("latency_p50_ms", "ms") = Stats.pct(samples, 50)
    m("latency_p90_ms", "ms") = Stats.pct(samples, 90)
    m("rows_per_s", "rows/s") = loaded.rows / warmTotal
    m("warm_total_s", "s") = warmTotal
    m("cold_total_s", "s") = Stats.median(colds)
    m("retained_heap_mb", "MB") = heap
    m("timed_cpu_s", "s") = cpu

    if (a.trace) {
      counters.report(spark, m)
      m("sources.load_s", "s") = loaded.seconds
      m("sources.partitions", "count") = loaded.partitions.toDouble
      Queries.map(_._2).distinct.foreach { f =>
        m(s"operators.${f}_s", "s") =
          medians.filter(_._1.family == f).map(_._2).sum
        m(s"operators.${f}_tasks", "count") =
          counters.total(_ == s"operators.$f").tasks.toDouble / rounds
      }
      m("sql.analyze_ms", "ms") = Stats.median(analyze)
      m("sql.exec_s", "s") = Stats.median(sqlExec)
      m("tools.storage_mb_end", "MB") = Stats.storageMb(spark)
    }

    // cold results of oracle-backed queries, for run.py's DuckDB check
    val oracles = SparkEntry.oracleSql
    val checks = Queries.map(_._1).filter(n =>
      oracles.contains(n) && coldRows.contains(n)).map { n =>
      val path = s"${a.work}/results/$n"
      schemas.get(n).foreach { s =>
        spark.createDataFrame(
          java.util.Arrays.asList(coldRows(n): _*), s)
          .coalesce(1).write.parquet(path)
      }
      s"""{"name":${Main.jstr(n)},"rows":${coldRows(n).length},""" +
        s""""path":${Main.jstr(path)},"oracle":${Main.jstr(oracles(n))}}"""
    }
    extra("board_checks") = checks.mkString("[", ",", "]")
    spark.stop()
  }
}
