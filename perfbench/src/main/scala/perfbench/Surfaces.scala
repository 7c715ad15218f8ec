package perfbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.connect.JsonataTransform
import graft.jsonata.{Jsonata, JsonataExpr, Values}
import graft.spark.{JsonataAnalysis, JsonataCompiler, JsonataDF, JsonataFunctions, RowJson, VariantJson}

/** One way a user runs a JSONata expression over the frame.
  *
  * @param build     the transform, through the engine's public surface
  * @param output    the surface's result reduced to plain comparable columns
  * @param reference the same columns computed with native Spark SQL only
  * @param compile   the two-tier compile attempt the surface makes while it
  *                  is planned (auto and `jsonata_typed` only)
  * @param replay    the per-record layer calls the interpreted surface makes,
  *                  replayed on the Spark driver under trace spans
  */
final case class Surface(
    name: String,
    build: (SparkSession, DataFrame) => DataFrame,
    output: DataFrame => DataFrame,
    reference: DataFrame => DataFrame,
    compile: Option[DataFrame => Unit] = None,
    replay: Option[Replay] = None)

/** Replay, on the Spark driver, of one interpreted surface over sampled frame rows. */
trait Replay {
  def apply(row: InternalRow, frameSchema: StructType, t: Trace, op: Int): Unit
  /** Expression parses the replay observed (compile-cache misses). */
  var parses = 0L
  protected val seen = new java.util.IdentityHashMap[JsonataExpr, java.lang.Boolean]()
}

object Surfaces {
  private val F = JsonNodeFactory.instance

  private val EventCols: Seq[String] = Seq("event_id", "ts", "user_id", "event_type", "value")
  private val EventDdl = "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
  private def notError(df: DataFrame): DataFrame = df.where(not(col("event_type") <=> lit("error")))

  /** The frame without its variant column, which the row codec does not
    * encode: the row surfaces transform the event columns only. */
  private def events(df: DataFrame): DataFrame = df.drop("payload_v")

  /** `{topic, kafkaPartition, value}` around a row, as the row expressions build it. */
  private def envelope(value: JsonNode): JsonNode = {
    val env = F.objectNode()
    env.put("topic", "rows")
    env.put("kafkaPartition", 0)
    env.set[JsonNode]("value", value)
    env
  }

  /** The frame row without its variant column, narrowed to the value fields
    * the expression reads — the struct `JsonataDF` hands the row expressions. */
  private final class Pruned(expr: String) {
    private val keep = JsonataAnalysis.referencedValueFields(JsonataTransform.compile(expr).ast)
    private var cached: (StructType, StructType, Array[Int]) = _
    def apply(row: InternalRow, schema: StructType): (InternalRow, StructType) = {
      if (cached == null || (cached._1 ne schema)) {
        val idx = schema.fields.indices.filter { i =>
          schema(i).name != "payload_v" && keep.forall(_.contains(schema(i).name))
        }.toArray
        cached = (schema, StructType(idx.map(schema(_))), idx)
      }
      val (_, pruned, idx) = cached
      (new GenericInternalRow(idx.map(i => row.get(i, schema(i).dataType))), pruned)
    }
  }

  private def exprOf(src: String): JsonataExpr = JsonataTransform.compile(src)

  // ---------------- interpreted tier ----------------

  private val SiftExpr =
    "$sift(value, function($v, $k) {$k in ['event_id', 'ts', 'user_id', 'event_type', 'value']})"

  private val EvalExpr =
    "( $p := $eval(value.props); {'event_id': value.event_id, 'k': $p.k, 'src': $p.src} )"
  private val EvalDdl = "event_id BIGINT, k BIGINT, src STRING"

  private val UdfExpr =
    "value.event_type = 'error' ? null : {'event_id': value.event_id, 'total': value.value + 1}"

  private val VariantExpr =
    "{'id': event_id, 'uid': user_id, 'hi': value > 5000, 'et': $uppercase(event_type)}"

  private val interpretedTier: Seq[Surface] = Seq(
    Surface("transform_sift",
      (_, f) => JsonataDF.transform(events(f), SiftExpr),
      out => out.select(from_json(col("out"), StructType.fromDDL(EventDdl)).as("r")).select("r.*"),
      f => f.select(EventCols.map(col): _*),
      replay = Some(new Replay {
        private val pruned = new Pruned(SiftExpr)
        def apply(row: InternalRow, schema: StructType, t: Trace, op: Int): Unit = {
          val (r, st) = pruned(row, schema)
          val env = t.span(t.id("spark.rowjson_encode"), op)(envelope(RowJson.rowToJson(r, st)))
          val out = t.span(t.id("jsonata.eval"), op)(exprOf(SiftExpr).evaluate(env, 5000L, 1000))
          if (out != null && !out.isNull)
            t.span(t.id("spark.serialize"), op)(Values.jsonSerialize(out, prettify = false))
        }
      })),
    Surface("transform_as_eval",
      (_, f) => JsonataDF.transformAs(events(f), EvalExpr, StructType.fromDDL(EvalDdl)),
      identity,
      f => f.select(col("event_id"), from_json(col("props"), StructType.fromDDL("k BIGINT, src STRING")).as("p"))
        .select(col("event_id"), col("p.k"), col("p.src")),
      replay = Some(new Replay {
        private val pruned = new Pruned(EvalExpr)
        private val outSchema = StructType.fromDDL(EvalDdl)
        def apply(row: InternalRow, schema: StructType, t: Trace, op: Int): Unit = {
          val (r, st) = pruned(row, schema)
          val env = t.span(t.id("spark.rowjson_encode"), op)(envelope(RowJson.rowToJson(r, st)))
          // the payload parse `$eval` makes, as its own span; evaluate then
          // finds the payload in the `$eval` cache
          val props = env.get("value").get("props")
          if (props != null) {
            val e = t.span(t.id("jsonata.parse"), op)(Jsonata.compileCached(props.asText()))
            if (seen.put(e, true) == null) parses += 1 // a new instance means the cache missed
          }
          val out = t.span(t.id("jsonata.eval"), op)(exprOf(EvalExpr).evaluate(env, 5000L, 1000))
          if (out != null && !out.isNull)
            t.span(t.id("spark.rowjson_decode"), op)(RowJson.jsonToRow(out, outSchema))
        }
      })),
    Surface("sql_udf_filter",
      (spark, _) => spark.sql(
        s"""SELECT r.event_id, r.total FROM (
           |  SELECT from_json(jsonata(to_json(named_struct('value',
           |           named_struct('event_id', event_id, 'value', value, 'event_type', event_type))),
           |         '${UdfExpr.replace("'", "''")}'), 'event_id BIGINT, total DOUBLE') AS r
           |  FROM frame) WHERE r IS NOT NULL""".stripMargin),
      identity,
      f => notError(f).select(col("event_id"), (col("value") + 1).as("total")),
      replay = Some(new Replay {
        def apply(row: InternalRow, schema: StructType, t: Trace, op: Int): Unit = {
          // to_json's text, as the UDF receives it
          val text = Values.jsonSerialize(envelopeOnly(row, schema), prettify = false)
          val in = t.span(t.id("spark.json_parse"), op)(Jsonata.parseJson(text))
          val out = t.span(t.id("jsonata.eval"), op)(exprOf(UdfExpr).evaluate(in))
          if (out != null && !out.isNull)
            t.span(t.id("spark.serialize"), op)(Values.jsonSerialize(out, prettify = false))
        }
        private def envelopeOnly(row: InternalRow, schema: StructType): JsonNode = {
          val v = F.objectNode()
          v.put("event_id", row.getLong(schema.fieldIndex("event_id")))
          v.put("value", row.getDouble(schema.fieldIndex("value")))
          val et = schema.fieldIndex("event_type")
          if (!row.isNullAt(et)) v.put("event_type", row.getUTF8String(et).toString)
          F.objectNode().set[JsonNode]("value", v)
        }
      })),
    Surface("variant",
      (_, f) => f.select(JsonataFunctions.jsonataVariant(col("payload_v"), VariantExpr).as("v")),
      out => out.select(variantField("id", "bigint"), variantField("uid", "bigint"),
        variantField("hi", "boolean"), variantField("et", "string")),
      f => f.select(col("event_id"), col("user_id"), (col("value") > 5000).as("hi"), upper(col("event_type"))),
      replay = Some(new Replay {
        def apply(row: InternalRow, schema: StructType, t: Trace, op: Int): Unit = {
          val vv = row.getVariant(schema.fieldIndex("payload_v"))
          val in = t.span(t.id("spark.variant"), op)(
            VariantJson.toJsonNode(new org.apache.spark.types.variant.Variant(vv.getValue, vv.getMetadata)))
          val out = t.span(t.id("jsonata.eval"), op)(exprOf(VariantExpr).evaluate(in, 5000L, 1000))
          if (out != null && !out.isNull) t.span(t.id("spark.variant"), op) {
            val p = out.traverse()
            p.nextToken()
            org.apache.spark.types.variant.VariantBuilder.parseJson(p, false)
          }
        }
      })))

  private def variantField(name: String, tpe: String): Column =
    try_variant_get(col("v"), "$." + name, tpe).as(name)

  // ---------------- compiled tier ----------------

  private val TombstoneExpr =
    "value.event_type = 'error' ? null : " +
      "{'event_id': value.event_id, 'user_id': value.user_id, 'v': value.value, 'et': value.event_type}"
  private val TombstoneDdl = "event_id BIGINT, user_id BIGINT, v DOUBLE, et STRING"

  private val PatchExpr =
    "value ~> |$|{'et': $uppercase(event_type), 'v2': value * 2}, ['props', 'm', 'items', 'payload_v']|"
  private val PatchDdl = EventDdl + ", et STRING, v2 DOUBLE"

  private val WildcardExpr = "{'event_id': value.event_id, 'sw': $sum(value.m.*)}"
  private val WildcardDdl = "event_id BIGINT, sw DOUBLE"

  private val GroupExpr = "{'event_id': value.event_id, 's': value.items{cat: $sum(price)}}"
  private val GroupDdl = "event_id BIGINT, s MAP<STRING, BIGINT>"
  private val GroupInput = StructType.fromDDL("event_id BIGINT, items ARRAY<STRUCT<cat: STRING, price: BIGINT>>")

  private def auto(name: String, expr: String, ddl: String, reference: DataFrame => DataFrame): Surface =
    Surface(name,
      (_, f) => JsonataDF.auto(f, expr, StructType.fromDDL(ddl)),
      identity, reference,
      compile = Some(f => JsonataCompiler.compileQuery(f, expr)))

  private val compiledTier: Seq[Surface] = Seq(
    auto("auto_tombstone", TombstoneExpr, TombstoneDdl,
      f => notError(f).select(col("event_id"), col("user_id"), col("value"), col("event_type"))),
    auto("auto_patch", PatchExpr, PatchDdl,
      f => f.select(EventCols.map(col) :+ upper(col("event_type")) :+ (col("value") * 2): _*)),
    auto("auto_wildcard_sum", WildcardExpr, WildcardDdl,
      f => f.select(col("event_id"), col("m.a") + col("m.b") + col("m.c"))),
    Surface("sql_typed_group_by",
      (spark, _) => spark.sql(
        s"""SELECT r.* FROM (
           |  SELECT jsonata_typed(named_struct('event_id', event_id, 'items', items),
           |         '${GroupExpr.replace("'", "''")}', '$GroupDdl') AS r
           |  FROM frame) WHERE r IS NOT NULL""".stripMargin),
      out => out.select(col("event_id"), array_sort(map_entries(col("s")))),
      // per-row group-by with higher-order functions: distinct categories,
      // each with the sum of its prices
      f => f.select(col("event_id"), array_sort(transform(array_distinct(col("items.cat")), c =>
        struct(c, aggregate(filter(col("items"), i => i("cat") === c), lit(0L),
          (acc, i) => acc + i("price")))))),
      compile = Some(_ => JsonataCompiler.compileForSchema(GroupInput, GroupExpr, utcSession = true))))

  /** Each tier's surfaces, with the self-test faults applied to its first:
    * `throw` makes its transform fail on some records, `wrong-ref` makes its
    * reference disagree with the engine on some rows. */
  def interpreted(inject: Option[String]): Seq[Surface] = faulted(interpretedTier, inject)
  def compiled(inject: Option[String]): Seq[Surface] = faulted(compiledTier, inject)

  private def faulted(ss: Seq[Surface], inject: Option[String]): Seq[Surface] = {
    val first = ss.head
    inject match {
      case Some("throw") =>
        val bad = "value.event_id % 1000 = 7 ? $error('injected failure') : $"
        first.copy(build = (_, f) => JsonataDF.transform(events(f), bad)) +: ss.tail
      case Some("wrong-ref") =>
        first.copy(reference = f => {
          val df = first.reference(f)
          val c = df.columns.head
          df.withColumn(c, when(col(c) % 1000 === 0, col(c) + 1).otherwise(col(c)))
        }) +: ss.tail
      case _ => ss
    }
  }

}
