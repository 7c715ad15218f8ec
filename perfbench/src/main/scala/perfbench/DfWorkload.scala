package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.spark.{JsonataExpression, JsonataFunctions, JsonataRowExpression, JsonataRowJsonExpression, JsonataVariantExpression}

/** `spark_df`: batch Spark over the generated frame, through both tiers.
  * Each op is one full transform of a frame to the `noop` sink through one
  * surface: four interpreted surfaces over a small frame, then four
  * compiled-subset surfaces over a larger one. Ops rotate over the eight
  * surfaces and the window ends on a whole round, so every surface runs
  * equally often. */
object DfWorkload {
  /** Frame rows per tier. The interpreted surfaces cost 20 to 200 times more
    * per record than the compiled ones; with these sizes each tier takes
    * about half of a round, so a change to either tier moves the
    * workload's throughput by about half its own size. Both frames come
    * from the same generator, so the interpreted frame is the first rows of
    * the compiled one. */
  val InterpretedRows = 20000L
  val CompiledRows = 120000L

  /** Task slots: half the cores. With every core busy, the JIT, the garbage
    * collector and the Spark driver thread compete with the tasks, and identical
    * runs spread by 20 to 30%; with half the cores they spread by about 5%. */
  def slots(nproc: Int): Int = math.max(1, nproc / 2)
  val TailPct = 80.0

  /** Untimed seconds of ops between the last set-up and the window. The
    * first rounds after a set-up take up to twice as long as later ones while
    * the JIT settles on the generated code; a window that starts at once
    * carries a share of them that varies from run to run. */
  val SettleSeconds = 6
  private val SettleFirstOp = 1000000
  val ReplayRows = 2000

  /** The surfaces in run order, each with the rows of the frame it transforms. */
  def surfaces(inject: Option[String]): Seq[(Surface, Long)] =
    Surfaces.interpreted(inject).map(_ -> InterpretedRows) ++ Surfaces.compiled(inject).map(_ -> CompiledRows)

  /** Both frames; the digest pinned in `digests.json`. */
  def generate(spark: SparkSession, seed: Long, slots: Int): Map[Long, DataFrame] =
    Seq(InterpretedRows, CompiledRows).map(n => n -> Frame.generate(spark, seed, n, slots)).toMap

  def digest(frames: Map[Long, DataFrame]): String =
    frames.toSeq.sortBy(_._1).map(f => Frame.digest(f._2)).mkString(" ")

  private final class Setup(val spark: SparkSession, val frames: Map[Long, DataFrame],
                            val surfaces: Seq[Surface], val rows: Seq[Long], val plans: Seq[DataFrame],
                            val compileMs: Double, val listener: OpListener) {
    def frameOf(i: Int): DataFrame = frames(rows(i))
  }

  /** The surface's transform of `frame`; SQL surfaces read the view `frame`. */
  private def build(spark: SparkSession, sf: Surface, frame: DataFrame): DataFrame = {
    frame.createOrReplaceTempView("frame")
    sf.build(spark, frame)
  }

  /** Session start, frame generation and caching, the two-tier compile
    * decision, planning, and a warm-up op per surface over a tenth of its frame. */
  private def setUp(args: Args, slots: Int): Setup = {
    val spark = Frame.session(slots)
    val listener = new OpListener
    spark.sparkContext.addSparkListener(listener)
    JsonataFunctions.registerSql(spark)
    val frames = generate(spark, args.seed, slots).map { case (n, f) => n -> f.cache() }
    frames.values.foreach(_.count())
    val (surfs, rows) = surfaces(args.inject).unzip
    // timed on its first call in this JVM; later calls hit the compiler's memo
    val t0 = System.nanoTime()
    surfs.lazyZip(rows).foreach((sf, n) => sf.compile.foreach(c => c(frames(n))))
    val compileMs = (System.nanoTime() - t0) / 1e6
    val plans = surfs.lazyZip(rows).map((sf, n) => build(spark, sf, frames(n)))
    plans.foreach(_.queryExecution.executedPlan)
    surfs.lazyZip(rows).foreach { (sf, n) =>
      try noop(build(spark, sf, frames(n).where(col("event_id") < n / 10))) catch { case NonFatal(_) => }
    }
    new Setup(spark, frames, surfs, rows, plans, compileMs, listener)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs ops until `seconds` have passed and the round is complete; with a
    * trace, each op also gets a span. Op CPU comes from the listener. */
  private def window(s: Setup, seconds: Int, firstOp: Int,
                     trace: Option[Trace]): (OpLog, Seq[(Int, Boolean)]) = {
    val sc = s.spark.sparkContext
    val n = s.plans.size
    val opName = trace.map(_.id("op")).getOrElse(0)
    val timed = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val deadline = System.nanoTime() + seconds * 1000000000L
    var op = firstOp
    while (System.nanoTime() < deadline || (op - firstOp) % n != 0) {
      sc.setLocalProperty(OpListener.OpKey, op.toString)
      val span = trace.map(_.begin(opName, op))
      val t0 = System.nanoTime()
      try { noop(s.plans((op - firstOp) % n)); timed += ((op, System.nanoTime() - t0)) }
      catch { case NonFatal(_) => timed += ((op, -1L)) }
      for (t <- trace; i <- span) t.end(i)
      op += 1
    }
    sc.setLocalProperty(OpListener.OpKey, null)
    s.listener.drain(sc)
    val log = new OpLog(s.rows.map(_.toInt).toIndexedSeq)
    for ((o, ns) <- timed) {
      val k = (o - firstOp) % n
      if (ns < 0) log.fail(k, s.rows(k).toInt) else log.ok(k, ns, s.listener.get(o).cpuNs)
    }
    (log, timed.map { case (o, ns) => (o, ns >= 0) }.toSeq)
  }

  /** Surfaces whose engine result hashes differently from the native
    * reference, or whose transform threw. */
  private def wrongSurfaces(s: Setup): Seq[Int] = s.surfaces.indices.filter { i =>
    val sf = s.surfaces(i)
    try Frame.hash(sf.output(s.plans(i))) != Frame.hash(sf.reference(s.frameOf(i)))
    catch { case NonFatal(_) => true }
  }

  /** JSONata evaluations per record in an executed plan: the four engine
    * expressions and the `jsonata` SQL UDF, counted once per plan node and
    * distinct expression, as subexpression elimination shares repeats
    * within one node but not across nodes. */
  def evaluatorSites(df: DataFrame): Int = {
    def plan(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    plan(df.queryExecution.executedPlan).collect { case node if !node.isInstanceOf[LeafExecNode] =>
      node.expressions.flatMap(_.collect {
        case e @ (_: JsonataExpression | _: JsonataRowExpression | _: JsonataRowJsonExpression |
                  _: JsonataVariantExpression) => e.canonicalized
        case u: ScalaUDF if u.udfName.exists(_.startsWith("jsonata")) => u.canonicalized
      }).distinct.size
    }.sum
  }

  /** The share of one tier's surfaces whose executed plan has no evaluator node. */
  private def compiledShare(s: Setup, sites: Seq[Int], tierRows: Long): Double = {
    val tier = sites.indices.filter(s.rows(_) == tierRows)
    tier.count(sites(_) == 0).toDouble / tier.size
  }

  def run(args: Args, nproc: Int): Outcome = {
    val slots = DfWorkload.slots(nproc)
    var compileMs = Double.NaN // the first set-up's: the compiler's memo is cold only then
    val (s, setupS) = Stats.setUpRepeatedly {
      val s = setUp(args, slots)
      if (compileMs.isNaN) compileMs = s.compileMs
      s
    }(_.spark.stop())
    window(s, SettleSeconds, SettleFirstOp, None)
    val (log, ops) = window(s, args.seconds, 0, None)
    log.writeTo(args.outDir.resolve(s"ops-${args.workload}-seed${args.seed}.tsv"))
    val (p50, tail) = log.p50AndTail(TailPct)
    val traced =
      if (args.trace) Some(tracedRun(s, args, ops.size, log.recordsPerS, compileMs))
      else None

    // a surface whose result is wrong fails every record it transformed
    val wrong = wrongSurfaces(s)
    val allOps = ops ++ traced.map(_._2).getOrElse(Nil)
    val digest = DfWorkload.digest(s.frames)
    val sites = s.plans.map(evaluatorSites)
    val heap = Stats.retainedHeapMb()
    s.spark.stop()

    val endToEnd = Seq(
      Metric("setup_s", Stats.median(setupS), "s"),
      Metric("records_per_s", log.recordsPerS, "1/s"),
      Metric("op_p20_ms", log.fastOpMs, "ms"),
      Metric("op_tail_ms", tail, "ms"),
      Metric("cpu_s_per_mrec", log.cpuSPerMrec, "s"),
      Metric("retained_heap_mb", heap, "MB"))
    val rowsOf = (op: Int) => s.rows(op % s.plans.size)
    val failed = allOps.collect { case (op, ok) if !ok || wrong.contains(op % s.plans.size) => rowsOf(op) }.sum
    Outcome(allOps.map(o => rowsOf(o._1)).sum, failed,
      traced.map(_._1).getOrElse(endToEnd),
      Seq("frame_rows" -> s.rows, "input_digest" -> digest,
        "surfaces" -> s.surfaces.map(_.name), "evaluator_sites" -> sites,
        "compiled_share" -> Seq("interpreted_tier" -> compiledShare(s, sites, InterpretedRows),
          "compiled_tier" -> compiledShare(s, sites, CompiledRows)),
        "wrong_surfaces" -> wrong.map(s.surfaces(_).name),
        "ops" -> log.okOps, "failed_ops" -> log.failedOps,
        "surface_p20_ms" -> log.kindMs(OpLog.FastPct), "surface_p50_ms" -> log.kindMs(50),
        "op_p50_ms" -> p50,
        "tail_percentile" -> TailPct, "tail_samples_beyond" -> Stats.beyond(log.okOps, TailPct),
        "setup_s_each" -> setupS,
        "task_slots" -> slots, "spark_version" -> org.apache.spark.SPARK_VERSION) ++
        endToEnd.map(m => s"untraced.${m.name}" -> m.value))
  }

  /** The traced run: the same ops again, each in an op span with per-op
    * listener counters; then the per-record layer calls of every interpreted
    * surface, replayed on the Spark driver over sampled frame rows. */
  private def tracedRun(s: Setup, args: Args, firstOp: Int, untracedRps: Double,
                        compileMs: Double): (Seq[Metric], Seq[(Int, Boolean)]) = {
    val trace = new Trace(1000000)
    val (log, ops) = window(s, args.seconds, firstOp, Some(trace))
    val stats = ops.collect { case (op, true) => s.listener.get(op) }
    def perOp(f: s.listener.Op => Double): Double = stats.map(f).sum / math.max(1, stats.size)
    val skews = stats.flatMap(_.skew)
    val slotMs = log.busyNs / 1e6 * s.spark.sparkContext.defaultParallelism

    val frame = s.frames(InterpretedRows)
    val sample = frame.limit(ReplayRows).queryExecution.toRdd.map(_.copy()).collect()
    val replays = s.surfaces.flatMap(_.replay)
    for ((r, i) <- replays.zipWithIndex; row <- sample) r(row, frame.schema, trace, -1 - i)
    val replayed = replays.size.toLong * sample.length
    val sum = trace.summary
    def perKrec(name: String) =
      if (replayed == 0) 0.0 else sum.get(name).map(_._3).getOrElse(0L) / 1e6 / (replayed / 1000.0)
    val (parseCount, _, parseNs) = sum.getOrElse("jsonata.parse", (0L, 0L, 0L))

    // analysis, optimization and physical planning of a fresh DataFrame per
    // surface, median of three
    val planMs = s.surfaces.indices.map { i =>
      Stats.median((0 until 3).map { _ =>
        val t0 = System.nanoTime()
        build(s.spark, s.surfaces(i), s.frameOf(i)).queryExecution.executedPlan
        (System.nanoTime() - t0) / 1e6
      })
    }
    val sites = s.plans.map(evaluatorSites)
    trace.writeTo(args.outDir.resolve(s"trace-${args.workload}-seed${args.seed}.tsv"))
    val metrics = Seq(
      Metric("jsonata.eval_ms_per_krec", perKrec("jsonata.eval"), "ms"),
      Metric("jsonata.parse_us_per_call", if (parseCount == 0) 0.0 else parseNs / 1e3 / parseCount, "us"),
      Metric("jsonata.parse_calls",
        if (replayed == 0) 0.0 else replays.map(_.parses).sum / (replayed / 1000.0), "count"),
      Metric("spark.rowjson_encode_ms_per_krec", perKrec("spark.rowjson_encode"), "ms"),
      Metric("spark.rowjson_decode_ms_per_krec", perKrec("spark.rowjson_decode"), "ms"),
      Metric("spark.serialize_ms_per_krec", perKrec("spark.serialize"), "ms"),
      Metric("spark.variant_ms_per_krec", perKrec("spark.variant"), "ms"),
      Metric("spark.evaluator_sites", sites.sum.toDouble, "count"),
      Metric("spark.compiled_ratio", compiledShare(s, sites, CompiledRows), "ratio"),
      Metric("spark.compile_plan_ms", compileMs, "ms"),
      Metric("spark.plan_ms", planMs.sum / planMs.size, "ms"),
      Metric("spark.jobs_per_op", perOp(_.jobs), "count"),
      Metric("spark.stages_per_op", perOp(_.stages), "count"),
      Metric("spark.tasks_per_op", perOp(_.tasks), "count"),
      Metric("spark.idle_ratio", if (slotMs == 0) 0.0 else 1.0 - stats.map(_.taskMs).sum / slotMs, "ratio"),
      Metric("spark.gc_s", perOp(_.gcMs.toDouble) / 1e3, "s"),
      Metric("spark.max_task_over_median", if (skews.isEmpty) 1.0 else Stats.median(skews), "ratio"),
      Metric("spark.shuffle_bytes", perOp(_.shuffleBytes.toDouble), "bytes"),
      Metric("trace.overhead_ratio", if (log.recordsPerS == 0) 0.0 else untracedRps / log.recordsPerS, "ratio"))
    (metrics, ops)
  }
}
