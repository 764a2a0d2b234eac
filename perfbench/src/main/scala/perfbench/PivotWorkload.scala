package perfbench

import scala.collection.mutable

import graft.model.MemberCatalog
import graft.service.{ApartadosService, QueryService}
import graft.service.QueryService.{FilterSpec, QueryRequest, RowSpec}

/** One generated service request. */
sealed trait Op { def id: String; def category: String }
final case class Pivot(id: String, category: String, req: QueryRequest) extends Op
final case class Browse(id: String, category: String, ranges: String) extends Op

object Ops {
  /** `P id category measures rows slicer nonEmpty` (rows as
    * `dim|hier|level` joined by `;`) and `B id category ranges`. */
  def parse(spec: Spec): Map[String, Op] =
    (spec.records("P").map { f =>
      val rows = f(4).split(";").toSeq.filter(_.nonEmpty).map { r =>
        val Array(d, h, l) = r.split("\\|")
        RowSpec(d, h, l)
      }
      val filters = if (f(5).isEmpty) Nil else Seq(FilterSpec(Seq(f(5))))
      Pivot(f(1), f(2), QueryRequest("Sales", f(3).split(",").toSeq, rows, filters, f(6) == "1"))
    } ++ spec.records("B").map(f => Browse(f(1), f(2), f(3)))).map(o => o.id -> o).toMap

  /** Serve one request through the public service API; the response is
    * kept as the service returned it. */
  def serve(ctx: Ctx, op: Op): Any = op match {
    case Pivot(_, _, req) => QueryService.executeForGrid(ctx.spark, ctx.sf, req)
    case Browse(id, _, ranges) =>
      val members = MemberCatalog.members(ctx.spark, ctx.sf)
      (ApartadosService.variablesFor(members, ranges).collect().toSeq,
        ApartadosService.envelope(members, id, "[DIM VARIABLES]"))
  }

  /** A response as (column names, rows), for comparison and for the
    * oracle check. */
  def table(resp: Any): (Seq[String], Seq[Seq[Any]]) = resp match {
    case r: QueryService.QueryResult =>
      val cols = r.columns.map(_.field)
      (cols, r.rows.map(m => cols.map(m(_))))
    case (rows: Seq[_], envelope: String) =>
      (Seq("apartado", "variable", "unique_name"),
        rows.map(_.asInstanceOf[org.apache.spark.sql.Row].toSeq) :+ Seq(envelope))
  }
}

/** Closed loop, one client: an analyst waiting on each grid. Traced runs
  * then run the job leg ([[JobLeg]]) in the same session. */
object PivotWorkload {

  def run(ctx: Ctx): Unit = {
    val ops = Ops.parse(ctx.spec)
    val warm = ctx.spec.records("W").map(f => ops(f(1)))
    val stream = ctx.spec.records("S").map(f => ops(f(1)))
    val rec = ctx.rec
    val first = mutable.LinkedHashMap.empty[String, (Seq[String], Seq[Seq[Any]])]

    /** A response must be non-empty and equal to the first response to
      * the same request. */
    def check(op: Op, resp: Any): Option[String] = {
      val t = Ops.table(resp)
      first.get(op.id) match {
        case None =>
          first(op.id) = t
          if (t._2.isEmpty) Some("empty response") else None
        case Some(prev) =>
          if (prev == t) None else Some("response differs from its first response")
      }
    }

    // Set-up: the member catalog and both pre-aggregates, built by the
    // warm-up stream's first two (navigated) requests. Repeated so the
    // median excludes the one-time JVM warm-up. The rest of the warm-up
    // stream, one cycle of the measured stream, then runs once, so the
    // window measures repeat requests only.
    def serveWarm(ops: Seq[Op]): Unit = ops.foreach { op =>
      try Ops.serve(ctx, op)
      catch { case e: Exception => rec.fail(s"warm-up ${op.id}: $e") }
      ctx.release()
    }
    rec.fields("setup_s") = (1 to 3).map { rep =>
      // The last set-up's builds are recorded; each starts from cleared
      // caches, so its ledger holds single builds.
      if (rep == 3) ctx.drainBuildLog()
      val t0 = System.nanoTime()
      ctx.dropCaches()
      MemberCatalog.members(ctx.spark, ctx.sf).count()
      serveWarm(warm.take(2))
      (System.nanoTime() - t0) / 1e9
    }
    ctx.recordArtifacts("setup", Seq(ctx.drainBuildLog()))
    rec.lap("setup")
    serveWarm(warm.drop(2))
    rec.lap("warm-up")

    final case class Sample(op: Op, ms: Double, ok: Boolean, wall0: Long, wall1: Long,
                            parseMs: Double, constructMs: Double, releaseMs: Double)
    val samples = mutable.ArrayBuffer.empty[Sample]
    ctx.probe.foreach(_.mark())
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline) {
      val op = stream(i % stream.size)
      i += 1
      // Traced runs time the request's construction separately, before
      // the measured call, so the request latency itself stays untouched.
      var parseMs, constructMs = 0.0
      op match {
        case Pivot(_, _, req) if ctx.traced =>
          val a = System.nanoTime()
          graft.mdx.MdxParser.parse(QueryService.buildMdx(req))
          val b = System.nanoTime()
          QueryService.execute(ctx.spark, ctx.sf, req)
          parseMs = Stats.ms(a, b); constructMs = Stats.ms(b, System.nanoTime())
        case _ => ()
      }
      val wall0 = System.currentTimeMillis()
      val s = System.nanoTime()
      val resp =
        try Right(Ops.serve(ctx, op))
        catch { case e: Exception => Left(e) }
      val ms = Stats.ms(s, System.nanoTime())
      val wall1 = System.currentTimeMillis()
      val error = resp match {
        case Right(r) => check(op, r)
        case Left(e) => Some(e.toString)
      }
      error.foreach(e => rec.fail(s"${op.id}: $e"))
      val ok = error.isEmpty
      samples += Sample(op, ms, ok, wall0, wall1, parseMs, constructMs, ctx.release())
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    rec.lap("measured")

    rec.fields("ops") = samples.map(x => Map("id" -> x.op.id, "cat" -> x.op.category,
      "ms" -> x.ms, "ok" -> x.ok))
    rec.fields("elapsed_s") = elapsedS
    ctx.probe.foreach { p =>
      rec.layers ++= p.engineLayers()
      val acts = p.actions.toArray(Array.empty[p.Action]).toSeq.filter(_.func == "collect")
      val grids = samples.filter(_.op.isInstanceOf[Pivot]).flatMap { x =>
        acts.find(a => a.startMs >= x.wall0 && a.startMs <= x.wall1).map(x -> _)
      }
      rec.layers("mdx.parse_ms") = Stats.median(grids.map(_._1.parseMs))
      rec.layers("mdx.lower_ms") = Stats.median(grids.map(g => g._1.constructMs - g._1.parseMs))
      rec.layers("plan.analyze_ms") = Stats.median(grids.map(_._2.analyzeMs.toDouble))
      rec.layers("plan.optimize_ms") = Stats.median(grids.map(_._2.optimizeMs.toDouble))
      rec.layers("plan.physical_ms") = Stats.median(grids.map(_._2.planMs.toDouble))
      rec.layers("exec.collect_ms") = Stats.median(grids.map(_._2.execMs))
      rec.layers("service.encode_ms") =
        Stats.median(grids.map { case (x, a) => math.max(0.0, x.ms - x.constructMs - a.execMs) })
      rec.layers("mdx.fact_scan_share") =
        if (grids.isEmpty) 0.0 else grids.count(_._2.scansFact).toDouble / grids.size
      rec.layers("service.browse_ms") =
        Stats.median(samples.filter(_.op.isInstanceOf[Browse]).map(_.ms))
      rec.layers("transient.release_ms") = Stats.median(samples.map(_.releaseMs))
    }
    Jvm.settle()
    rec.fields("storage_mb") = Jvm.storageMb(ctx.spark)
    rec.fields("heap_live_mb") = Jvm.heapLiveMb()

    // Outputs for the oracle check, outside the measured phase.
    rec.fields("grids") = first.collect { case (id, (cols, rows)) if ops(id).isInstanceOf[Pivot] =>
      id -> Map("columns" -> cols, "rows" -> rows)
    }
    // Traced runs go on to the job service, over the same session's
    // catalog and pre-aggregates.
    ctx.probe.foreach(JobLeg.run(ctx, ops, _))
  }
}
