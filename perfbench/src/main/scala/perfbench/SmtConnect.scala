package perfbench

import scala.util.control.NonFatal

import graft.connect._
import graft.jsonata.{Jsonata, JsonataExpr}

/** `smt_connect`: a Connect task applying the SMT inline. One thread, closed
  * loop; each op is one poll batch of [[BatchSize]] records through
  * `JsonataTransform.apply`. Batches rotate over four expressions, as on a
  * worker hosting four connectors. The pool of batches and the expected
  * output of every record are built once in set-up, so the measured loop
  * does nothing but transform and compare. */
object SmtConnect {
  val BatchSize = 500
  val Batches = 40
  val TailPct = 98.0

  /** One generated user event: the generator's own fields, from which both
    * the input record and every expected output are built by hand. */
  final case class Gen(id: Long, first: String, last: String, email: String, region: String,
                       amountCents: Long, birthDays: Int, updatedMs: Long, tags: Vector[String],
                       score: java.lang.Double, tombstone: Boolean, partition: Int, offset: Long,
                       source: String)

  val RemoveEmail: String =
    """(
      |    $root := $;
      |    $removeEmail := function($v, $k) {$k != 'email'};
      |    $newValueSchemaFields := $sift($root.valueSchema.fields, $removeEmail);
      |    $newValueSchema := $merge([$root.valueSchema, {"fields": $newValueSchemaFields}]);
      |    $newValue := $sift($root.value, $removeEmail);
      |    $newRoot := $merge([$root, {"valueSchema": $newValueSchema}, {"value": $newValue}])
      |)""".stripMargin

  val RouteAndKey: String =
    """value = null ? $ : $merge([$, {
      |  'topic': topic & '.' & value.region,
      |  'key': value.id,
      |  'keySchema': {'type': 'INT64'},
      |  'headers': $append(headers, [{'key': 'routed', 'value': value.region, 'schema': {'type': 'STRING'}}])
      |}])""".stripMargin

  /** identity, tombstone filter, the README's removeEmail, topic route + value-to-key. */
  val Expressions: Vector[String] = Vector("$", "value = null ? null : $", RemoveEmail, RouteAndKey)

  private val Regions = Vector("eu", "us", "apac", "latam")
  private val Tags = Vector("new", "vip", "trial", "churn", "beta")
  private val Names = Vector("ana", "bo", "chen", "dara", "eli", "fatima", "goran", "hana")

  def generate(seed: Long, n: Int): Vector[Gen] = {
    val rnd = new java.util.SplittableRandom(seed)
    Vector.tabulate(n) { i =>
      val id = 1000000L + i * 7L + rnd.nextInt(7)
      Gen(id,
        first = Names(rnd.nextInt(Names.size)),
        last = Names(rnd.nextInt(Names.size)) + "son",
        email = if (rnd.nextInt(4) == 0) null else s"user$id@example.com",
        region = Regions(rnd.nextInt(Regions.size)),
        amountCents = rnd.nextLong(1000000L),
        birthDays = 3000 + rnd.nextInt(12000),
        updatedMs = 1700000000000L + rnd.nextLong(10000000000L),
        tags = Vector.fill(rnd.nextInt(4))(Tags(rnd.nextInt(Tags.size))),
        score = if (rnd.nextInt(5) == 0) null else java.lang.Double.valueOf(rnd.nextInt(400) / 4.0),
        tombstone = rnd.nextInt(10) == 0,
        partition = rnd.nextInt(8),
        offset = 5000L + i,
        source = s"conn-${rnd.nextInt(4)}")
    }
  }

  private def fieldSchemas(withEmail: Boolean): Seq[(String, CSchema)] = Seq(
    "id" -> CSchema.INT64,
    "first" -> CSchema.STRING,
    "last" -> CSchema.STRING) ++
    (if (withEmail) Seq("email" -> CSchema(CType.STRING, optional = true)) else Nil) ++ Seq(
    "region" -> CSchema.STRING,
    "amount" -> Logical.decimalSchema(2),
    "birth" -> Logical.dateSchema,
    "updated" -> Logical.timestampSchema,
    "tags" -> CSchema.array(CSchema.STRING),
    "score" -> CSchema(CType.FLOAT64, optional = true))

  private def userSchema(withEmail: Boolean): CSchema =
    CSchema.struct(fieldSchemas(withEmail): _*).copy(optional = true, name = "example.User", version = 1)

  private val FullSchema = userSchema(withEmail = true)
  private val NoEmailSchema = userSchema(withEmail = false)

  private def struct(g: Gen, schema: CSchema): CStruct = {
    val s = new CStruct(schema)
      .put("id", g.id).put("first", g.first).put("last", g.last).put("region", g.region)
      .put("amount", java.math.BigDecimal.valueOf(g.amountCents, 2))
      .put("birth", Logical.dateToLogical(g.birthDays))
      .put("updated", Logical.timestampToLogical(g.updatedMs))
      .put("tags", g.tags).put("score", g.score)
    if (schema.fields.exists(_.name == "email")) s.put("email", g.email) else s
  }

  private def headers(g: Gen): Vector[CHeader] =
    Vector(CHeader("source", g.source, CSchema.STRING), CHeader("seq", g.offset, CSchema.INT64))

  def record(g: Gen): CRecord =
    CRecord("users", g.partition, CSchema.STRING, s"user-${g.id}",
      FullSchema, if (g.tombstone) null else struct(g, FullSchema),
      g.updatedMs, headers(g), SinkMeta(g.offset, "CREATE_TIME"))

  /** The output each expression must produce, built from the generator's
    * fields without the codec or the JSONata engine. */
  def expected(g: Gen, exprIndex: Int): CRecord = exprIndex match {
    case 0 => record(g)
    case 1 => if (g.tombstone) null else record(g)
    case 2 => record(g).copy(valueSchema = NoEmailSchema,
      value = if (g.tombstone) null else struct(g, NoEmailSchema))
    case 3 =>
      if (g.tombstone) record(g)
      else record(g).copy(topic = s"users.${g.region}", keySchema = CSchema.INT64, key = g.id,
        headers = headers(g) :+ CHeader("routed", g.region, CSchema.STRING))
  }

  def digest(gens: Vector[Gen]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    gens.foreach(g => md.update((g.productIterator.mkString("|") + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  // ---- deep equality with Connect logical-type semantics ----

  def schemaEq(a: CSchema, b: CSchema): Boolean =
    if (a == null || b == null) a == b
    else a.ctype == b.ctype && a.optional == b.optional && a.name == b.name &&
      a.version == b.version && a.doc == b.doc && a.parameters == b.parameters &&
      valueEq(a.defaultValue, b.defaultValue) &&
      schemaEq(a.keySchema, b.keySchema) && schemaEq(a.valueSchema, b.valueSchema) && {
        val af = Option(a.fields).getOrElse(Vector.empty)
        val bf = Option(b.fields).getOrElse(Vector.empty)
        af.length == bf.length && af.zip(bf).forall { case (x, y) =>
          x.name == y.name && x.index == y.index && schemaEq(x.schema, y.schema)
        }
      }

  def valueEq(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case (x: java.util.Date, y: java.util.Date) => x.getTime == y.getTime
    case (x: CStruct, y: CStruct) =>
      schemaEq(x.schema, y.schema) && x.schema.fields.forall(f => valueEq(x.get(f), y.get(f)))
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.lazyZip(y).forall(valueEq)
    case (x: scala.collection.Map[_, _], y: scala.collection.Map[_, _]) =>
      x.keySet == y.keySet &&
        x.forall { case (k, v) => valueEq(v, y.asInstanceOf[scala.collection.Map[Any, Any]](k)) }
    case (x: java.lang.Number, y: java.lang.Number) => x.getClass == y.getClass && x == y
    case _ => a == b
  }

  def recordEq(a: CRecord, b: CRecord): Boolean =
    if (a == null || b == null) a == null && b == null
    else a.topic == b.topic && a.kafkaPartition == b.kafkaPartition &&
      schemaEq(a.keySchema, b.keySchema) && valueEq(a.key, b.key) &&
      schemaEq(a.valueSchema, b.valueSchema) && valueEq(a.value, b.value) &&
      a.timestamp == b.timestamp && a.meta == b.meta &&
      Option(a.headers).map(_.length) == Option(b.headers).map(_.length) &&
      (a.headers == null || a.headers.lazyZip(b.headers).forall { (x, y) =>
        x.key == y.key && valueEq(x.value, y.value) && schemaEq(x.schema, y.schema)
      })

  // ---- the workload ----

  private final class Setup(val gens: Vector[Gen], val pool: Array[Array[CRecord]],
                            val want: Array[Array[CRecord]], val configs: Vector[JsonataTransform.Config])

  private def exprOf(batch: Int): Int = batch % Expressions.size

  private def setUp(args: Args): Setup = {
    val gens = generate(args.seed, BatchSize * Batches)
    val exprs = args.inject match {
      case Some("throw") => Expressions.updated(3, "$error('injected failure')")
      case _ => Expressions
    }
    val configs = exprs.map(JsonataTransform.Config(_))
    configs.foreach(c => JsonataTransform.compile(c.expr))
    val pool = Array.tabulate(Batches)(b => Array.tabulate(BatchSize)(i => record(gens(b * BatchSize + i))))
    val want = Array.tabulate(Batches) { b =>
      Array.tabulate(BatchSize) { i =>
        val g = gens(b * BatchSize + i)
        val e = expected(g, exprOf(b))
        if (args.inject.contains("wrong-ref") && i % 50 == 0 && e != null) e.copy(topic = "wrong") else e
      }
    }
    // warm-up: two passes over the pool, results discarded
    for (_ <- 0 until 2; b <- 0 until Batches; r <- pool(b))
      try JsonataTransform.apply(r, configs(exprOf(b))) catch { case NonFatal(_) => }
    new Setup(gens, pool, want, configs)
  }

  private val threadMx = java.lang.management.ManagementFactory.getThreadMXBean

  /** Untraced closed loop for `seconds`. */
  private def window(s: Setup, seconds: Int): OpLog = {
    val log = new OpLog(Vector.fill(Expressions.size)(BatchSize))
    val out = new Array[CRecord](BatchSize)
    val deadline = System.nanoTime() + seconds * 1000000000L
    var op = 0
    while (System.nanoTime() < deadline || op % Expressions.size != 0) {
      val b = op % Batches
      val cfg = s.configs(exprOf(b))
      val batch = s.pool(b)
      val c0 = threadMx.getCurrentThreadCpuTime
      val t0 = System.nanoTime()
      var i = 0
      while (i < BatchSize) {
        out(i) = try JsonataTransform.apply(batch(i), cfg) catch { case NonFatal(_) => Thrown }
        i += 1
      }
      val ns = System.nanoTime() - t0
      val cpu = threadMx.getCurrentThreadCpuTime - c0
      val bad = mismatches(out, s.want(b)) // a thrown record never matches
      if (bad == 0) log.ok(exprOf(b), ns, cpu) else log.fail(exprOf(b), bad)
      op += 1
    }
    log
  }

  /** Marks a record whose transform threw; never equal to an expected record. */
  private val Thrown = CRecord("<thrown>", null, null, null, null, null, null, null, null)

  private def mismatches(out: Array[CRecord], want: Array[CRecord]): Int = {
    var bad = 0
    var i = 0
    while (i < out.length) {
      if ((out(i) eq Thrown) || !recordEq(out(i), want(i))) bad += 1
      i += 1
    }
    bad
  }

  def run(args: Args): Outcome = {
    val (s, setupS) = Stats.setUpRepeatedly(setUp(args))(_ => ())
    val log = window(s, args.seconds)
    log.writeTo(args.outDir.resolve(s"ops-smt_connect-seed${args.seed}.tsv"))
    val (p50, tail) = log.p50AndTail(TailPct)
    val endToEnd = Seq(
      Metric("setup_s", Stats.median(setupS), "s"),
      Metric("records_per_s", log.recordsPerS, "1/s"),
      Metric("op_p20_ms", log.fastOpMs, "ms"),
      Metric("op_tail_ms", tail, "ms"),
      Metric("cpu_s_per_mrec", log.cpuSPerMrec, "s"),
      Metric("retained_heap_mb", Stats.retainedHeapMb(), "MB"))
    val traced = if (args.trace) tracedWindow(s, args, log.recordsPerS) else TracedResult(Nil, 0, 0)
    Outcome(log.records + traced.attempted, log.failedRecords + traced.failed,
      if (args.trace) traced.metrics else endToEnd,
      Seq("input_records" -> s.gens.size, "batch_records" -> BatchSize, "expressions" -> Expressions.size,
        "input_digest" -> digest(s.gens), "ops" -> log.okOps, "failed_ops" -> log.failedOps,
        "expression_p20_ms" -> log.kindMs(OpLog.FastPct), "expression_p50_ms" -> log.kindMs(50),
        "op_p50_ms" -> p50,
        "tail_percentile" -> TailPct, "tail_samples_beyond" -> Stats.beyond(log.okOps, TailPct),
        "setup_s_each" -> setupS, "task_slots" -> 1) ++
        endToEnd.map(m => s"untraced.${m.name}" -> m.value))
  }

  final case class TracedResult(metrics: Seq[Metric], attempted: Long, failed: Long)

  /** The traced run: `apply` is replaced by the calls it makes (compile,
    * encode, evaluate, decode), each in its own span under one `apply` span
    * per record. Every traced result is compared with `apply`'s own result
    * and with the expected record, outside the op spans. */
  private def tracedWindow(s: Setup, args: Args, untracedRps: Double): TracedResult = {
    val trace = new Trace(1000000)
    val (opN, applyN, compileN, encodeN, evalN, decodeN, parseN) = (trace.id("op"), trace.id("connect.apply"),
      trace.id("connect.compile"), trace.id("connect.encode"), trace.id("jsonata.eval"),
      trace.id("connect.decode"), trace.id("jsonata.parse"))
    // parse cost per call, measured directly (the window itself only hits the cache)
    for (_ <- 0 until 50; e <- s.configs) trace.span(parseN, -1)(Jsonata.compile(e.expr))
    val seen = new java.util.IdentityHashMap[JsonataExpr, java.lang.Boolean]()
    s.configs.foreach(c => seen.put(JsonataTransform.compile(c.expr), true))
    var parses = 0L
    var records = 0L
    var failed = 0L
    val log = new OpLog(Vector.fill(Expressions.size)(BatchSize))
    val out = new Array[CRecord](BatchSize)
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    var op = 0
    while ((System.nanoTime() < deadline || op % Expressions.size != 0) && trace.hasRoom(1 + 5 * BatchSize)) {
      val b = op % Batches
      val cfg = s.configs(exprOf(b))
      val batch = s.pool(b)
      val t0 = System.nanoTime()
      val opSpan = trace.begin(opN, op)
      var i = 0
      while (i < BatchSize) {
        val r = batch(i)
        out(i) = try trace.span(applyN, op) {
          val expr = trace.span(compileN, op)(JsonataTransform.compile(cfg.expr))
          if (seen.put(expr, true) == null) parses += 1
          val env = trace.span(encodeN, op)(RecordCodec.recordToJsonNode(r))
          val result = trace.span(evalN, op)(expr.evaluate(env, cfg.timeoutMs, cfg.maxDepth))
          trace.span(decodeN, op)(if (result == null) null else RecordCodec.jsonNodeToRecord(r, result))
        } catch { case NonFatal(_) => Thrown }
        i += 1
      }
      trace.end(opSpan)
      log.ok(exprOf(b), System.nanoTime() - t0, 0L)
      i = 0
      while (i < BatchSize) {
        val viaApply = try JsonataTransform.apply(batch(i), cfg) catch { case NonFatal(_) => Thrown }
        val agree = if (viaApply eq Thrown) out(i) eq Thrown else recordEq(out(i), viaApply)
        if (!agree || (out(i) eq Thrown) || !recordEq(out(i), s.want(b)(i))) failed += 1
        i += 1
      }
      records += BatchSize
      op += 1
    }
    val sum = trace.summary
    def selfNs(n: String) = sum.get(n).map(_._3).getOrElse(0L)
    def totalNs(n: String) = sum.get(n).map(_._2).getOrElse(0L)
    val perKrec = (ns: Long) => if (records == 0) 0.0 else ns / 1e6 / (records / 1000.0)
    val (pc, _, pns) = sum("jsonata.parse")
    trace.writeTo(args.outDir.resolve(s"trace-smt_connect-seed${args.seed}.tsv"))
    val tracedRps = log.recordsPerS
    TracedResult(
      Seq(
        Metric("connect.encode_ms_per_krec", perKrec(selfNs("connect.encode")), "ms"),
        Metric("connect.decode_ms_per_krec", perKrec(selfNs("connect.decode")), "ms"),
        Metric("connect.covered_share",
          (selfNs("connect.encode") + selfNs("jsonata.eval") + selfNs("connect.decode")).toDouble /
            math.max(1L, totalNs("connect.apply")), "ratio"),
        Metric("jsonata.eval_ms_per_krec", perKrec(selfNs("jsonata.eval")), "ms"),
        Metric("jsonata.parse_us_per_call", pns / 1e3 / pc, "us"),
        Metric("jsonata.parse_calls", if (records == 0) 0.0 else parses / (records / 1000.0), "count"),
        Metric("trace.overhead_ratio", if (tracedRps == 0) 0.0 else untracedRps / tracedRps, "ratio")),
      records, failed)
  }
}
