package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Benchmark entry point: one workload, one seed, one run.
  *
  *   Main --workload <alert_stream|query_board> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir> [--spans <file>]
  *
  * Prints one `PERFBENCH {...}` line on stdout holding the metrics,
  * the attempted/failed operation counts and, for the board, the result
  * files the oracle check in `run.py` reads. Everything else the JVM
  * prints goes to stderr (perfbench/log4j2.properties).
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, cores: Int, spans: Option[String])

  /** Metrics of one run, in insertion order, as (value, unit). */
  final class Metrics {
    val values = mutable.LinkedHashMap[String, (Double, String)]()
    def update(name: String, unit: String, v: Double): Unit =
      values(name) = (v, unit)
  }

  /** Operation accounting behind `failed_ratio`. */
  final class Outcome {
    var attempted = 0L
    var failed = 0L
    val notes = mutable.ArrayBuffer[String]()
    def fail(n: Long, why: String): Unit = if (n > 0) {
      failed += n; notes += why
    }
  }

  /** A session with the same confs as `graft.Bench`, its warehouse and
    * scratch space under the run's work dir. */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "65536")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"),
      Runtime.getRuntime.availableProcessors(), m.get("spans"))
  }

  private val t0 = System.nanoTime()

  /** Progress line on stderr, with seconds since JVM start. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val metrics = new Metrics
    val outcome = new Outcome
    val extra = mutable.LinkedHashMap[String, String]()
    Tracer.enabled = a.trace
    a.workload match {
      case "alert_stream" => AlertStream.run(a, metrics, outcome)
      case "query_board"  => QueryBoard.run(a, metrics, outcome, extra)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    a.spans.foreach(Tracer.write)
    val ms = metrics.values.map { case (k, (v, u)) =>
      s"${jstr(k)}:[${jnum(v)},${jstr(u)}]" }.mkString("{", ",", "}")
    val ex = extra.map { case (k, v) => s"${jstr(k)}:$v" }.mkString(",")
    val notes = outcome.notes.map(jstr).mkString("[", ",", "]")
    println(s"""PERFBENCH {"attempted":${outcome.attempted},""" +
      s""""failed":${outcome.failed},"notes":$notes,"metrics":$ms""" +
      (if (ex.nonEmpty) s",$ex" else "") + "}")
    System.out.flush()
  }
}
