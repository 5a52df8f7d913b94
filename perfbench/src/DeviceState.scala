package perfbench

import graft.streaming.{AggMaintain, FingerprintDedupFilter, StreamingDedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import scala.collection.mutable

/** The stateful write path as a closed loop, run after the measured
  * phase of `alert_stream`'s traced run: its per-layer metrics
  * (StreamingDedup, AggMaintain, the uncompacted filter's plan growth)
  * come from here. It is not a workload of its own, because its JVM-cold
  * batches cost too much for the benchmark's run budget.
  *
  * The BME680 feed keyed by device (Zipf s=1.1 over 20,000 devices, 50
  * sites), 10% of records at-least-once resends of one of the last 1,024
  * readings. Fixed 5,000-row micro-batches go through one `foreachBatch`
  * that dedups against a historical corpus
  * (`StreamingDedup.exactAgainstCorpus(...).withAutoCompaction(_, 4)`)
  * and folds the novel rows into `AggMaintain` (per-site count and
  * DECIMAL sum of each device's latest reading). The next batch is sent
  * when the previous one completes; latency runs from send to completion,
  * and the final aggregate is checked against an exact recompute.
  */
object DeviceState {
  val Devices = 20000
  val Sites = 50
  val BatchRows = 5000
  val HistoryRows = 20000
  val ResendShare = 0.10
  val ResendWindow = 1024
  /** Batches after the first (cold) one. */
  val TimedBatches = 4

  /** (device_id, site, seq, op, value, payload) */
  type Rec = (Long, Int, Long, String, Double, String)

  def siteOf(device: Long): Int =
    (((device * 2654435761L) >>> 8) % Sites).toInt

  final class Inputs(seed: Long) {
    private val rng = new java.util.Random(seed)
    private val cdf = {
      val w = (1 to Devices).map(k => 1.0 / math.pow(k, 1.1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
    }
    private def device(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, Devices - 1).toLong
    }
    private def reading(seq: Long): Rec = {
      val d = device()
      val v = math.round((50.0 + 20.0 * rng.nextGaussian()) * 100) / 100.0
      val op = if (rng.nextDouble() < 0.02) "d" else "u"
      (d, siteOf(d), seq, op, v,
        s"""{"device":$d,"seq":$seq,"bme680_tempf":"$v","op":"$op"}""")
    }
    val history: Seq[String] =
      (1 to HistoryRows).map(i => reading(-i.toLong)._6)
    private val recent = mutable.ArrayBuffer[Rec]()
    private var seq = 0L
    private def next(): Rec =
      if (recent.nonEmpty && rng.nextDouble() < ResendShare)
        recent(rng.nextInt(recent.length))
      else {
        seq += 1
        val r = reading(seq)
        recent += r
        if (recent.length > ResendWindow) recent.remove(0)
        r
      }
    val batches: Array[Array[Rec]] =
      Array.fill(TimedBatches + 1)(Array.fill(BatchRows)(next()))
  }

  /** Bench-side exact recompute: each device's latest reading by seq,
    * deletes removed, per-site (count, DECIMAL(18,2) sum). */
  def expected(sent: Seq[Array[Rec]]): Map[Int, (Long, BigDecimal)] = {
    val latest = mutable.Map[Long, Rec]()
    sent.foreach(_.foreach { r =>
      if (latest.get(r._1).forall(_._3 < r._3)) latest(r._1) = r
    })
    latest.values.filter(_._4 != "d").groupBy(_._2).map { case (s, rs) =>
      s -> (rs.size.toLong,
        rs.map(r => BigDecimal(r._5).setScale(2,
          BigDecimal.RoundingMode.HALF_UP)).sum)
    }
  }

  def planNodes(p: LogicalPlan): Long = 1L + p.children.map(planNodes).sum

  final class Job(spark: SparkSession, a: Main.Args, in: Inputs,
      val tag: String) {
    import spark.implicits._
    val stream = MemoryStream[Rec](spark)
    val filter: FingerprintDedupFilter = StreamingDedup
      .exactAgainstCorpus(in.history.toDF("payload"), "payload")
      .withAutoCompaction(s"pb_fp_$tag", 4)
    val agg = AggMaintain(s"pb_dev_$tag", "device_id", "seq", "op", "site",
      "value")
    val sent = mutable.ArrayBuffer[Array[Rec]]()
    val dedupMs = mutable.ArrayBuffer[Double]()
    val aggMs = mutable.ArrayBuffer[Double]()
    val affected = mutable.ArrayBuffer[Double]()
    val novelRows = mutable.ArrayBuffer[Double]()
    val planSizes = mutable.ArrayBuffer[Double]()

    private def onBatch(batch: DataFrame, id: Long): Unit = {
      val (novel, dt) = Stats.time(Tracer.labelled(spark, "dedup.process") {
        filter.processBatch(batch)
      })
      dedupMs += dt * 1e3
      novelRows += novel.count().toDouble
      planSizes += planNodes(filter.fingerprints.queryExecution.logical)
        .toDouble
      val (n, at) = Stats.time(Tracer.labelled(spark, "aggmaintain.process") {
        agg.processBatch(novel.select("device_id", "seq", "op", "site", "value"))
      })
      aggMs += at * 1e3
      affected += n.toDouble
      Main.note(f"  batch $id: dedup ${dt * 1e3}%.0f ms, agg ${at * 1e3}%.0f ms")
    }

    val query: StreamingQuery = stream.toDF()
      .toDF("device_id", "site", "seq", "op", "value", "payload")
      .writeStream
      .foreachBatch(onBatch _)
      .option("checkpointLocation", s"${a.work}/ckpt/$tag")
      .start()

    /** Send batch `i` and wait for it; returns its latency in ms. */
    def step(i: Int): Double = {
      val t0 = System.nanoTime()
      stream.addData(in.batches(i).toSeq)
      sent += in.batches(i)
      query.processAllAvailable()
      Stats.secs(t0) * 1e3
    }

    def stop(): Unit = {
      try query.stop() catch { case _: Throwable => () }
      filter.close()
    }

    /** Final aggregate against the exact recompute, one attempt per site. */
    def check(o: Main.Outcome): Unit = {
      val want = expected(sent.toSeq)
      val got = agg.currentAgg(spark).map(_.collect().map { r =>
        r.getAs[Int]("site") -> (r.getAs[Long]("n_rows"),
          BigDecimal(r.getAs[java.math.BigDecimal]("sum_value")))
      }.toMap).getOrElse(Map.empty)
      val sites = want.keySet ++ got.keySet
      o.attempted += sent.length + sites.size
      o.fail(sites.count(s => want.get(s) != got.get(s)).toLong,
        "device aggregate differs from the exact recompute")
    }
  }

  /** The known defect, as a count: an uncompacted `exactAgainstCorpus`
    * filter's fingerprint plan after batch 8 over its size after batch 4
    * (`keys` and each batch's novel set embed each other's plans). */
  def planGrowth(spark: SparkSession, in: Inputs): Double = {
    import spark.implicits._
    val f = StreamingDedup.exactAgainstCorpus(
      in.history.take(1000).toDF("payload"), "payload")
    val sizes = (0 until 8).map { i =>
      f.processBatch(in.batches(0).slice(i * 200, (i + 1) * 200)
        .map(_._6).toSeq.toDF("payload"))
      planNodes(f.fingerprints.queryExecution.logical).toDouble
    }
    f.close()
    sizes(7) / sizes(3)
  }

  /** Run the device stream in its own session: one cold batch, then
    * [[TimedBatches]] batches, each sent when the previous completes. */
  def run(a: Main.Args, m: Main.Metrics, o: Main.Outcome): Unit = {
    val spark = Main.session(a)
    val in = new Inputs(a.seed)
    val job = new Job(spark, a, in, "dev")
    val first = job.step(0)
    Main.note(f"device first batch: $first%.0f ms")
    val lat = (1 to TimedBatches).map { i =>
      val ms = job.step(i)
      Main.note(f"device batch $i: $ms%.0f ms")
      ms
    }
    m("device.first_batch_ms", "ms") = first
    m("device.batch_ms_p50", "ms") = Stats.median(lat)
    m("device.rows_per_s", "rows/s") = lat.length * BatchRows / (lat.sum / 1e3)
    val timed = (xs: mutable.ArrayBuffer[Double]) => xs.drop(1)
    m("dedup.process_ms_p50", "ms") = Stats.median(timed(job.dedupMs))
    m("dedup.novel_ratio", "ratio") =
      timed(job.novelRows).sum / (lat.length * BatchRows)
    m("dedup.plan_nodes_max", "count") = job.planSizes.max
    // each compaction writes generation table <base>_g<N>, N = 1, 2, ...
    val base = s"pb_fp_${job.tag}_g"
    m("dedup.compactions", "count") = spark.catalog.listTables().collect()
      .filter(_.name.startsWith(base))
      .flatMap(_.name.stripPrefix(base).toLongOption)
      .maxOption.getOrElse(0L).toDouble
    m("aggmaintain.process_ms_p50", "ms") = Stats.median(timed(job.aggMs))
    m("aggmaintain.affected_groups_p50", "count") =
      Stats.median(timed(job.affected))
    m("aggmaintain.warehouse_mb", "MB") = Stats.dirMb(s"${a.work}/warehouse")
    m("tools.storage_mb_end", "MB") = Stats.storageMb(spark)
    job.stop()
    job.check(o)
    m("dedup.plan_nodes_growth", "ratio") = planGrowth(spark, in)
    spark.stop()
  }
}
