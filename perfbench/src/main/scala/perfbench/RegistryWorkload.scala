package perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.model.MemberCatalog
import org.apache.spark.sql.DataFrame

/** Closed loop, sequential: a stratified slice of the query registry run
  * as a first-use pass, then warm passes in seeded orders, then (traced
  * runs only) a cold pass, timing `queryExecution.toRdd.count()` the way
  * `graft.Bench` does. */
object RegistryWorkload {

  final case class Timing(name: String, totalS: Double, constructS: Double, planS: Double,
                          execS: Double, releaseMs: Double, fingerprint: String)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val registry = SparkEntry.queries
    val sample = ctx.spec.records("Q").map(_(1))
    // Pass orders: `O <pass> <name,name,...>`; pass 0 is the registry order.
    val orders = ctx.spec.records("O").map(_(2).split(",").toSeq)

    def query(name: String): DataFrame = graft.queries.Parity.outputDoubles(registry(name)(spark, ctx.sf))

    def runQuery(name: String, fingerprint: Boolean): Option[Timing] =
      try {
        val a = System.nanoTime()
        val df = query(name)
        val b = System.nanoTime()
        // Traced runs split the same work at the planning boundary.
        if (ctx.traced) df.queryExecution.executedPlan
        val c = System.nanoTime()
        df.queryExecution.toRdd.count()
        val d = System.nanoTime()
        val release = ctx.release()
        // Outside the timed region: the result's fingerprint, which must
        // be the same in every pass that takes one.
        val fp = if (fingerprint) Fingerprint.of(df) else ""
        ctx.release()
        Some(Timing(name, (d - a) / 1e9, (b - a) / 1e9, (c - b) / 1e9, (d - c) / 1e9, release, fp))
      } catch {
        case e: Exception =>
          ctx.release()
          rec.fail(s"$name: $e")
          None
      }

    def pass(order: Seq[String], fingerprint: Boolean): Seq[Timing] =
      order.flatMap(runQuery(_, fingerprint))

    // Set-up: the session-wide member catalog, built three times. Then the
    // first-use pass, which also pays JVM warm-up and builds every
    // artifact the slice needs.
    rec.fields("setup_s") = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      ctx.dropCaches()
      MemberCatalog.members(spark, ctx.sf).count()
      (System.nanoTime() - t0) / 1e9
    }
    ctx.drainBuildLog()
    rec.lap("setup")
    // No cache is cleared during the pass, so one drain holds single builds.
    val first = pass(orders.head, fingerprint = true)
    ctx.recordArtifacts("first", Seq(ctx.drainBuildLog()))
    rec.lap("first pass")

    // A warm run of each query, written out for the oracle check and
    // fingerprinted from the written rows.
    val oracles = SparkEntry.oracleSql
    val dumps = sample.flatMap { n =>
      val dir = s"${ctx.out}/oracle/$n"
      try {
        query(n).coalesce(1).write.mode("overwrite").parquet(dir)
        Some(n -> Fingerprint.of(spark.read.parquet(dir)))
      } catch { case e: Exception => rec.fail(s"$n: warm run for the checks failed: $e"); None }
      finally ctx.release()
    }
    rec.fields("oracle") = dumps.map(_._1).filter(oracles.contains).map(n => n -> oracles(n)).toMap
    rec.lap("oracle dumps")

    // Four untimed passes first: the JIT is still compiling the engine's
    // hot paths after the first pass, and the first warm passes of a
    // window would run up to twice as slow as the later ones.
    (1 to 4).foreach(_ => pass(orders.head, fingerprint = false))
    rec.lap("warm-up")

    // Warm passes in seeded orders fill the measured window, at least
    // three of them.
    ctx.probe.foreach(_.mark())
    val warm = mutable.ArrayBuffer.empty[Seq[Timing]]
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    while (warm.size < 3 || System.nanoTime() < deadline) {
      warm += pass(orders(1 + warm.size % (orders.size - 1)), fingerprint = false)
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    rec.lap("measured")
    ctx.probe.foreach(p => rec.layers ++= p.engineLayers())
    Jvm.settle()
    rec.fields("storage_mb") = Jvm.storageMb(spark)
    rec.fields("heap_live_mb") = Jvm.heapLiveMb()
    // Traced runs add a cold pass: every artifact dropped before each
    // query, so no query reuses another's builds. The ledger is drained
    // after each query, so a key rebuilt by several queries counts once
    // per build.
    val cold =
      if (!ctx.traced) Seq.empty[Timing]
      else {
        ctx.drainBuildLog()
        val runs = orders.head.map { n =>
          ctx.dropCaches()
          (runQuery(n, fingerprint = true), ctx.drainBuildLog())
        }
        ctx.recordArtifacts("cold", runs.map(_._2))
        rec.lap("cold pass")
        runs.flatMap(_._1)
      }

    val warmOps = warm.flatten.toSeq
    rec.fields("elapsed_s") = elapsedS
    rec.fields("ops") = warmOps.map(t => Map("id" -> t.name, "cat" -> "warm", "ms" -> t.totalS * 1000,
      "ok" -> true))
    rec.fields("passes") = Map(
      "first" -> first.map(_.totalS).sum,
      "warm" -> warm.map(_.map(_.totalS).sum),
      "cold" -> cold.map(_.totalS).sum)
    rec.fields("failed_runs") = (warm.size + (if (ctx.traced) 3 else 2)) * sample.size -
      (first.size + warmOps.size + dumps.size + cold.size)

    def split(label: String, ts: Seq[Timing], passes: Int): Unit = {
      rec.layers(s"query.construct_s.$label") = ts.map(_.constructS).sum / passes
      rec.layers(s"query.plan_s.$label") = ts.map(_.planS).sum / passes
      rec.layers(s"query.exec_s.$label") = ts.map(_.execS).sum / passes
    }
    if (ctx.traced) {
      split("first", first, 1); split("warm", warmOps, warm.size); split("cold", cold, 1)
      rec.layers("transient.release_ms") = Stats.median((first ++ warmOps ++ cold).map(_.releaseMs))
    }

    // Each query's result must be the same in the first-use run, the warm
    // run and, when traced, the cold run.
    val all = (first ++ cold).map(t => t.name -> t.fingerprint) ++ dumps
    sample.foreach { n =>
      val fps = all.filter(_._1 == n).map(_._2).distinct
      if (fps.size > 1) rec.fail(s"$n: result differs between passes: ${fps.mkString(" ")}")
    }
  }
}
