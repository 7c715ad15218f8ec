package perfbench

import java.nio.file.{Path, Paths}

/** Command-line arguments.
  *
  * @param inject self-test fault: `throw` (an expression fails on some
  *               records) or `wrong-ref` (the reference disagrees with the
  *               engine on some records); both must fail the run
  * @param outDir where the traced run writes its spans
  */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      inject: Option[String], outDir: Path, digestOnly: Boolean)

/** Benchmark entry point: runs one workload for one seed and prints a
  * context line and then the result line, both JSON. Workload and metric
  * names and units come from `BENCHMARK.json` (`--spec`).
  *
  * {{{
  * perfbench.Main --spec BENCHMARK.json --workload smt_connect --seed 1 --seconds 15 --trace 0 --out-dir DIR
  * perfbench.Main --spec BENCHMARK.json --digest-only --seed 1
  * }}}
  *
  * The exit code is 0 only when every attempted record was transformed and
  * matched its reference. */
object Main {
  /** Metric names and units as `BENCHMARK.json` declares them. */
  final case class Spec(workloads: Seq[String], endToEnd: Seq[(String, String)], perLayer: Seq[(String, String)])

  def loadSpec(path: Path): Spec = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    def metrics(key: String) = root.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    Spec(root.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq,
      metrics("end_to_end"), metrics("per_layer"))
  }

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val digestOnly = argv.contains("--digest-only")
    val inject = kv.get("inject")
    require(inject.forall(Set("throw", "wrong-ref")), s"unknown --inject ${inject.get}")
    Args(if (digestOnly) "" else need("workload"), need("seed").toLong,
      if (digestOnly) 0 else need("seconds").toInt,
      !digestOnly && need("trace") == "1",
      inject, Paths.get(kv.getOrElse("out-dir", ".")), digestOnly)
  }

  def main(argv: Array[String]): Unit = {
    val (args, spec) = try {
      val a = parse(argv)
      val sp = loadSpec(Paths.get(argv.sliding(2).collectFirst { case Array("--spec", p) => p }
        .getOrElse(throw new IllegalArgumentException("missing --spec"))))
      require(a.digestOnly || sp.workloads.contains(a.workload),
        s"unknown workload ${a.workload}; one of ${sp.workloads.mkString(", ")}")
      (a, sp)
    } catch {
      case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2)
    }
    if (args.digestOnly) { printDigests(args.seed); return }

    val nproc = Runtime.getRuntime.availableProcessors()
    val out =
      if (args.workload == "smt_connect") SmtConnect.run(args)
      else DfWorkload.run(args, nproc)

    // a traced run reports every per-layer metric: a layer the workload never
    // calls did no work and reads 0
    val declared = if (args.trace) spec.perLayer else spec.endToEnd
    val got = out.metrics.map(m => m.name -> m).toMap
    val undeclared = got.values.filterNot(m => declared.contains(m.name -> m.unit)).map(_.name)
    require(undeclared.isEmpty, s"metrics not declared with this unit: ${undeclared.mkString(", ")}")
    val metrics = declared.map { case (n, u) =>
      got.getOrElse(n, if (args.trace) Metric(n, 0.0, u) else throw new IllegalStateException(s"no $n"))
    }

    val correct = out.failed == 0 && out.attempted > 0
    val context = Seq(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds, "trace" -> args.trace,
      "nproc" -> nproc, "jvm" -> System.getProperty("java.vm.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "failed_ratio" -> out.failed.toDouble / math.max(1L, out.attempted)) ++ out.context
    println(Json.render(Seq("context" -> context)))
    println(Json.render(Seq(
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> metrics.map(m => m.name -> Seq("value" -> m.value, "unit" -> m.unit)))))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** Digests of every workload's generated input for one seed. */
  private def printDigests(seed: Long): Unit = {
    val smt = SmtConnect.digest(SmtConnect.generate(seed, SmtConnect.BatchSize * SmtConnect.Batches))
    val spark = Frame.session(2)
    val frames = DfWorkload.digest(DfWorkload.generate(spark, seed, 2))
    spark.stop()
    println(Json.render(Seq("seed" -> seed, "digests" -> Seq("smt_connect" -> smt, "spark_df" -> frames))))
  }
}
