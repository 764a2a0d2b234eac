package perfbench

/** Benchmark harness entry point. Runs one workload over generated
  * inputs and writes its raw measurements to `<out>/result.json`:
  *
  *   Harness --workload <name> --input <spec.tsv> --out <dir>
  *           --seconds <s> --trace <0|1> --data <fixture dir> --cpus <n>
  *
  * `--workload classes --data <fixture dir> --cpus <n>` only starts a
  * session and reads the fixture, for the runner's class-data archive.
  *
  * Exits non-zero only when the run itself cannot complete; operations
  * that fail or return wrong output are recorded as failures instead. */
object Harness {
  def main(args: Array[String]): Unit = {
    val rec = new Record
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = graft.GraftSession.local(opt("cpus").toInt, s"perfbench-${opt("workload")}")
    if (opt("workload") == "classes") {
      // Load the classes every run starts with, for the runner's
      // class-data archive, and exit.
      try graft.model.MemberCatalog.members(spark, opt("data")).count() finally spark.stop()
      return
    }
    rec.lap("session")
    val ctx = Ctx(spark, opt("data"), opt("out"), opt("seconds").toDouble,
      Spec.read(opt("input")), if (opt("trace") == "1") Some(new Probe(spark)) else None, rec)
    try opt("workload") match {
      case "pivot_service" => PivotWorkload.run(ctx)
      case "registry_mix" => RegistryWorkload.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      rec.lap("checks")
      rec.fields("phases") = rec.phases
      rec.fields("failures") = rec.failures.toSeq
      rec.fields("layers") = rec.layers
      val f = new java.io.File(ctx.out, "result.json")
      java.nio.file.Files.writeString(f.toPath, Json.render(rec.fields))
      spark.stop()
    }
  }
}
