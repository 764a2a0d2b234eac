package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.service.{JobService, QueryService}
import org.apache.spark.sql.functions.{col, expr}

/** The job leg of a traced pivot_service run. Open loop: a submitter on a
  * fixed schedule, one batch drainer looping over `runPending` while the
  * streaming runner drains the same log, and one poller watching every
  * outstanding job. It reuses the session's catalog and pre-aggregates,
  * which pivot jobs navigate to. */
object JobLeg {

  /** One scheduled job: `J dueMs pivot <request id>` or `J dueMs maint <k>`. */
  final class Job(val idx: Int, val dueNs: Long, val kind: String, val ref: String,
                  val mdx: String) {
    @volatile var id: String = ""
    @volatile var lagMs, submitMs = 0.0
    @volatile var observedNs, observedWall = 0L
    @volatile var status = ""
  }

  private def maintainMdx(k: String) = s"MAINTAIN PREAGG Sales.base WHERE l_orderkey % 16 = $k"

  def run(ctx: Ctx, ops: Map[String, Op], probe: Probe): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    def pivotReq(ref: String) = ops(ref).asInstanceOf[Pivot].req
    val jobs = ctx.spec.records("J").zipWithIndex.map { case (f, i) =>
      val mdx = if (f(2) == "maint") maintainMdx(f(3)) else QueryService.buildMdx(pivotReq(f(3)))
      new Job(i, f(1).toLong * 1000000L, f(2), f(3), mdx)
    }

    val root = s"${ctx.out}/jobs"
    new java.io.File(root, "job_events").mkdirs()
    val outstanding = new ConcurrentLinkedQueue[Job]()
    @volatile var stop = false
    val statusMs, drainMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val attempts = new java.util.concurrent.atomic.AtomicLong

    probe.mark()
    val stream = JobService.streamingRunner(spark, root, ctx.sf, availableNow = false)
    // Every runPending and status call scans the whole event log, so the
    // drainer pauses after a call that found nothing and the poller
    // between rounds, as a deployed runner and client would, instead of
    // spinning on the shared cores.
    val drainer = new Thread(() => {
      while (!stop) {
        val a = System.nanoTime()
        val n =
          try JobService.runPending(spark, root, ctx.sf)
          catch { case e: Exception => rec.fail(s"runPending: $e"); 0 }
        drainMs.add(Stats.ms(a, System.nanoTime()))
        attempts.addAndGet(n)
        if (n == 0) Thread.sleep(200)
      }
    }, "perfbench-drainer")
    val poller = new Thread(() => {
      while (!stop) {
        Thread.sleep(100)
        outstanding.toArray(Array.empty[Job]).foreach { j =>
          val a = System.nanoTime()
          val st =
            try JobService.status(spark, root, j.id).map(_.status)
            catch { case e: Exception => rec.fail(s"status ${j.id}: $e"); None }
          statusMs.add(Stats.ms(a, System.nanoTime()))
          st.filter(s => s == JobService.Completed || s == JobService.Failed).foreach { s =>
            j.observedNs = System.nanoTime(); j.observedWall = System.currentTimeMillis()
            j.status = s
            outstanding.remove(j)
          }
        }
      }
    }, "perfbench-poller")
    // Daemons, so a failed run cannot keep the JVM alive.
    Seq(drainer, poller).foreach { t => t.setDaemon(true); t.start() }

    // Submitter: each job is due at a fixed offset from t0, whatever
    // state the service is in.
    val backlog = mutable.ArrayBuffer.empty[Int]
    val t0 = System.nanoTime()
    jobs.foreach { j =>
      var wait = t0 + j.dueNs - System.nanoTime()
      while (wait > 0) { LockSupport.parkNanos(wait); wait = t0 + j.dueNs - System.nanoTime() }
      val a = System.nanoTime()
      j.lagMs = Stats.ms(t0 + j.dueNs, a)
      j.id = JobService.submit(spark, root, "SALES", j.mdx)
      j.submitMs = Stats.ms(a, System.nanoTime())
      outstanding.add(j)
      backlog += outstanding.size
    }
    val scheduleEnd = System.nanoTime()
    // A sustainable run drains its backlog shortly after the schedule ends.
    val grace = scheduleEnd + 30L * 1000000000L
    while (!outstanding.isEmpty && System.nanoTime() < grace) Thread.sleep(10)
    stop = true
    drainer.join(); poller.join()
    stream.stop()
    stream.exception.foreach(e => rec.fail(s"streaming runner: $e"))
    rec.lap("job leg")
    val third = math.max(1, backlog.size / 3)
    val growing = backlog.takeRight(third).sum.toDouble / third >
      backlog.take(third).sum.toDouble / third + 2
    rec.fields("jobs_unsustainable") = growing || !outstanding.isEmpty
    rec.fields("job_root") = root
    rec.fields("job_ops") = jobs.map { j =>
      Map("id" -> j.id, "cat" -> j.kind, "ok" -> (j.status == JobService.Completed),
        "ms" -> (if (j.observedNs > 0) Stats.ms(t0 + j.dueNs, j.observedNs) else -1.0),
        "observed_wall_ms" -> j.observedWall, "status" -> j.status)
    }
    jobs.filter(_.status != JobService.Completed).foreach { j =>
      rec.fail(s"job ${j.idx} (${j.kind}) ended ${if (j.status.isEmpty) "unobserved" else j.status}")
    }

    val latency = jobs.filter(_.observedNs > 0).map(j => Stats.ms(t0 + j.dueNs, j.observedNs))
    rec.layers("jobs.latency_p50_ms") = Stats.median(latency)
    rec.layers("jobs.latency_p90_ms") = Stats.pct(latency, 90)
    rec.layers("jobs.submit_ms") = Stats.median(jobs.map(_.submitMs))
    rec.layers("jobs.status_ms") = Stats.median(statusMs.asScala.map(_.doubleValue))
    rec.layers("jobs.drain_call_ms") = Stats.median(drainMs.asScala.map(_.doubleValue))
    rec.layers("jobs.completed") = jobs.count(_.status == JobService.Completed).toDouble
    rec.layers("loadgen.lag_p95_ms") = Stats.pct(jobs.map(_.lagMs), 95)
    rec.layers("loadgen.backlog_max") = if (backlog.isEmpty) 0.0 else backlog.max.toDouble
    rec.layers("jobs.event_files") =
      Option(new java.io.File(root, "job_events").listFiles()).map(_.count(_.getName.endsWith(".parquet")))
        .getOrElse(0).toDouble
    val bs = probe.batches.asScala.toSeq
    val claims = attempts.get + bs.map(_.rows).sum
    rec.layers("jobs.claim_attempts") = claims.toDouble
    rec.layers("jobs.claim_useful_ratio") =
      if (claims == 0) 0.0 else jobs.count(_.status == JobService.Completed).toDouble / claims
    rec.layers("stream.batches") = bs.size.toDouble
    rec.layers("stream.batch_ms_p50") = Stats.median(bs.map(_.triggerMs.toDouble))
    rec.layers("stream.add_batch_ms") = Stats.median(bs.map(_.addBatchMs.toDouble))
    rec.layers("stream.latest_offset_ms") = Stats.median(bs.map(_.latestOffsetMs.toDouble))
    rec.layers("codegen.compile_errors.jobs") = probe.engineLayers()("codegen.compile_errors")

    // Output checks, outside the measured phase.
    val resultMs = mutable.ArrayBuffer.empty[Double]
    val grids = mutable.Map.empty[String, Set[String]]
    def rowText(xs: Seq[Any]): String = xs.map {
      case d: Double => String.format("%.9g", Double.box(d))
      case x => String.valueOf(x)
    }.mkString("|")
    jobs.filter(j => j.kind == "pivot" && j.status == JobService.Completed).foreach { j =>
      val expected = grids.getOrElseUpdate(j.ref, {
        val t = Ops.table(QueryService.executeForGrid(spark, ctx.sf, pivotReq(j.ref)))
        t._2.map(rowText).toSet
      })
      val a = System.nanoTime()
      val got = JobService.result(spark, root, j.id).collect()
      resultMs += Stats.ms(a, System.nanoTime())
      val gotRows = got.map(r => rowText(r.toSeq))
      if (gotRows.length != expected.size || gotRows.toSet != expected)
        rec.fail(s"job ${j.idx}: result differs from the request's grid")
    }
    rec.layers("jobs.result_ms") = Stats.median(resultMs)

    val folded = jobs.filter(j => j.kind == "maint" && j.status == JobService.Completed).map(_.ref)
    if (folded.nonEmpty) {
      val cube = graft.mdx.SalesCube.cube
      val pa = cube.preAggs.find(_.name == "base").get
      val scratch = graft.mdx.MdxLowerer.preAggregateSlice(spark, ctx.sf, cube, pa,
        cube.fact(spark, ctx.sf).where(expr(s"l_orderkey % 16 IN (${folded.mkString(",")})")))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy(pa.grainCols.map(col): _*).collect().map(_.toSeq).toSeq
      if (rows(spark.read.parquet(s"$root/preagg_state/Sales.base")) != rows(scratch))
        rec.fail("maintained Sales.base differs from a from-scratch build of the folded slices")
    }
    rec.fields("folded_slices") = folded
    rec.lap("job checks")
  }
}
