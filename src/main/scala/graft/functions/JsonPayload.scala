package graft.functions

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native JSON payload accessors: one Jackson parse per row, inlined into
  * whole-stage codegen via a reference object.
  *
  * The built-ins they replace — `from_json` (JsonToStructs),
  * `get_json_object`, `json_object_keys` — are all CodegenFallback:
  * inside a codegen'd stage each call drops to interpreted
  * `Expression.eval`, whose framework call sites turn megamorphic as a
  * long-lived JVM runs varied plans; measured 3 s → 220 s on an identical
  * 100k-row query depending on what ran before (the round-1/round-2
  * "suite-position degradation"). Generated code calling a monomorphic
  * method on a reference object has no such cliff — and at 1000-executor
  * scale, fresh executors JIT the same narrow path immediately.
  */
object JsonPayload {
  /** BigDecimal floats so scalar text round-trips verbatim ("5.5600"
    * stays "5.5600", as get_json_object's streaming copy would). */
  private[functions] val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.configure(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS, true)
    m
  }

  /** A JSON value as get_json_object text: strings bare, scalars as their
    * literal text, containers as compact JSON, null → SQL null. */
  private[functions] def valueText(n: JsonNode): UTF8String =
    if (n == null || n.isNull) null
    else if (n.isTextual) UTF8String.fromString(n.asText())
    else if (n.isContainerNode) UTF8String.fromString(mapper.writeValueAsString(n))
    else UTF8String.fromString(n.asText())
}

/** `map<string,string>` of the payload's top-level fields — the native
  * replacement for `from_json(value, 'map<string,string>')`. Values mirror
  * the JacksonParser string-coercion: scalars as text, nested containers
  * as their JSON text, JSON null as a null entry. Malformed / non-object
  * payloads → SQL NULL (PERMISSIVE from_json behavior). */
case class JsonToMap(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    MapType(StringType, StringType, valueContainsNull = true)
  override def nullable: Boolean = true

  def convert(u: UTF8String): MapData = {
    if (u == null) return null
    val root =
      try JsonPayload.mapper.readTree(u.toString)
      catch { case _: Exception => null }
    if (root == null || !root.isObject) return null
    val keys = new scala.collection.mutable.ArrayBuffer[Any]
    val vals = new scala.collection.mutable.ArrayBuffer[Any]
    val it = root.properties().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys += UTF8String.fromString(e.getKey)
      vals += JsonPayload.valueText(e.getValue)
    }
    new ArrayBasedMapData(new GenericArrayData(keys.toArray),
      new GenericArrayData(vals.toArray))
  }

  override def eval(input: InternalRow): Any =
    convert(child.eval(input).asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jsonToMap", this, classOf[JsonToMap].getName)
    val childGen = child.genCode(ctx)
    val code =
      code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.MapData ${ev.value} =
          $ref.convert(${childGen.isNull} ? null : ${childGen.value});
        boolean ${ev.isNull} = ${ev.value} == null;"""
    ev.copy(code = code)
  }

  override protected def withNewChildInternal(newChild: Expression): JsonToMap =
    copy(child = newChild)
}

object JsonField {
  /** One parsed path segment. `quoted` segments are ALWAYS object-key
    * lookups — quoting is how a caller forces a numeric KEY (`m."7"`)
    * instead of an array index or a slice, mirroring the jql crate's
    * quoted-selector semantics. */
  final case class Segment(text: String, quoted: Boolean)

  private val SliceRe = """^\[([0-9]*):([0-9]*)\]$""".r

  /** Whether unquoted segment text is an array-slice selector
    * (`[lo:hi]`, either bound optional) — the jql crate's slice, with
    * jql's INCLUSIVE bounds: `a.[1:2]` keeps elements 1 and 2. Bounds
    * are capped at 9 digits (the array-index overflow rule); anything
    * not matching the exact shape is an ordinary object key. */
  def isSlice(text: String): Boolean = text match {
    case SliceRe(lo, hi) => lo.length <= 9 && hi.length <= 9
    case _               => false
  }

  /** (lo, hiInclusive) of a slice segment; hi None = to the end. */
  private[functions] def sliceBounds(text: String): (Int, Option[Int]) =
    text match {
      case SliceRe(lo, hi) =>
        (if (lo.isEmpty) 0 else lo.toInt,
          if (hi.isEmpty) None else Some(hi.toInt))
      case _ => throw new IllegalArgumentException(s"not a slice: `$text`")
    }

  /** Split a jql-ish path into SELECTORS of dot-separated segments.
    * Grammar: a top-level (unquoted) `,` separates selectors — the jql
    * crate's multi-selection, whose result is the ARRAY of every
    * selector's value; `.` separates segments within a selector; a
    * segment (or part of one) may be wrapped in double quotes to protect
    * dots AND commas inside a KEY (`meta."a.b"` is two segments,
    * `"k,l"` is one single-selector key); inside quotes `\"` is a
    * literal quote and `\\` a literal backslash. Malformed paths —
    * unterminated quote, trailing/unknown escape, empty unquoted
    * segment (which covers the empty selector of `a,` / `,a`) — throw
    * IllegalArgumentException, surfaced at BIND time (the -c parse and
    * the JsonField constructor both validate), never inside a running
    * task. */
  def splitSelectors(path: String): Array[Array[Segment]] = {
    val sels = scala.collection.mutable.ArrayBuffer.empty[Array[Segment]]
    val out = scala.collection.mutable.ArrayBuffer.empty[Segment]
    val sb = new java.lang.StringBuilder
    var quoted = false
    var inQ = false
    var i = 0
    def fail(why: String): Nothing =
      throw new IllegalArgumentException(s"invalid jql path `$path`: $why")
    def endSegment(): Unit = {
      if (sb.length == 0 && !quoted) fail("empty segment")
      out += Segment(sb.toString, quoted); sb.setLength(0); quoted = false
    }
    def endSelector(): Unit = {
      endSegment(); sels += out.toArray; out.clear()
    }
    while (i < path.length) {
      val c = path.charAt(i)
      if (inQ) c match {
        case '\\' =>
          if (i + 1 >= path.length) fail("trailing escape")
          val n = path.charAt(i + 1)
          if (n != '"' && n != '\\') fail(s"unsupported escape \\$n")
          sb.append(n); i += 1
        case '"' => inQ = false
        case o   => sb.append(o)
      } else c match {
        case '.' => endSegment()
        case ',' => endSelector()
        case '"' => inQ = true; quoted = true
        case o   => sb.append(o)
      }
      i += 1
    }
    if (inQ) fail("unterminated quote")
    endSelector()
    sels.toArray
  }

  /** Single-selector form of [[splitSelectors]] — for contexts where
    * multi-selection has no meaning; a multi-selector path here is the
    * same bind-time error surface as any other grammar violation. */
  def splitPath(path: String): Array[Segment] = {
    val sels = splitSelectors(path)
    if (sels.length != 1)
      throw new IllegalArgumentException(s"invalid jql path `$path`: " +
        "multi-selector path where a single selector is required")
    sels(0)
  }

  // length cap keeps `toInt` from overflowing on a >=10-digit numeral:
  // an index that large is out of range of any real array, so it falls
  // through to the object-key/missing-path branch like any other miss
  // (never an uncaught NumberFormatException crashing the task)
  private def isIndex(seg: Segment): Boolean =
    !seg.quoted && seg.text.nonEmpty && seg.text.length <= 9 &&
      seg.text.forall(c => c >= '0' && c <= '9')

  private def isSliceSeg(seg: Segment): Boolean =
    !seg.quoted && isSlice(seg.text)

  /** The [lo, hi]-inclusive sub-array of `arr` as a fresh ArrayNode;
    * out-of-range bounds clamp, an inverted range is empty (standard
    * slice behavior — never a miss on an actual array). */
  private def sliceNode(arr: JsonNode, seg: Segment): JsonNode = {
    val (lo, hiOpt) = sliceBounds(seg.text)
    val out = JsonPayload.mapper.createArrayNode()
    var i = lo
    val end = math.min(hiOpt.map(_ + 1).getOrElse(arr.size), arr.size)
    while (i < end) { out.add(arr.get(i)); i += 1 }
    out
  }

  /** The child at `seg`: array element for an unquoted numeric segment on
    * an array node, sliced sub-array for an unquoted `[lo:hi]` segment,
    * else object field (Jackson returns null for either miss — including
    * a quoted segment against an array, which is a forced key lookup and
    * arrays have no keys; a slice against a non-array is likewise a
    * miss). */
  private def step(node: JsonNode, seg: Segment): JsonNode =
    if (isSliceSeg(seg)) { if (node.isArray) sliceNode(node, seg) else null }
    else if (node.isArray && isIndex(seg)) node.get(seg.text.toInt)
    else node.get(seg.text)

  /** The node one selector resolves to, or Java null for a miss. A JSON
    * null leaf comes back as Jackson's NullNode — present, distinct from
    * a miss (a slice of an array always exists, possibly empty). */
  private def resolveNode(root: JsonNode, segs: Array[Segment]): JsonNode = {
    var node: JsonNode = root
    var i = 0
    while (node != null && i < segs.length - 1) {
      node = step(node, segs(i)); i += 1
    }
    if (node == null) return null
    val leaf = segs(segs.length - 1)
    if (isSliceSeg(leaf)) {
      if (node.isArray) sliceNode(node, leaf) else null
    } else if (node.isArray && isIndex(leaf)) {
      if (leaf.text.toInt < node.size) node.get(leaf.text.toInt) else null
    } else if (node.isObject && node.has(leaf.text)) {
      node.get(leaf.text)
    } else null
  }

  /** The node a parsed path resolves to from `root`, or Java null for a
    * miss. One selector yields its node; several (multi-selection) yield
    * the array of every selector's value, or a miss as soon as any
    * selector fails (jql walker semantics). */
  private[functions] def resolve(root: JsonNode, selectors: Array[Array[Segment]]): JsonNode =
    if (selectors.length == 1) resolveNode(root, selectors(0))
    else {
      val arr = JsonPayload.mapper.createArrayNode()
      var i = 0
      while (i < selectors.length) {
        val n = resolveNode(root, selectors(i))
        if (n == null) return null
        arr.add(n); i += 1
      }
      arr
    }

  /** The payload's JSON tree, or Java null when it is absent or not JSON. */
  private[functions] def parse(u: UTF8String): JsonNode =
    if (u == null) null
    else
      try JsonPayload.mapper.readTree(u.toString)
      catch { case _: Exception => null }
}

/** `struct<exists: boolean, raw: string>` for one dotted path of the
  * payload, in one parse: `raw` follows get_json_object semantics (null
  * for JSON null or missing), `exists` distinguishes the two (the
  * json_object_keys probe it replaces).
  *
  * Path grammar ([[JsonField.splitPath]]): dot-separated segments; a
  * purely NUMERIC unquoted segment indexes into an array (`a.0.b` — the
  * jql crate's array access the reference routes `-c` paths through,
  * the reference's src/consume.rs:311-443); an unquoted `[lo:hi]` segment
  * slices an array with jql's inclusive bounds (`a.[1:2]`, the serialized
  * sub-array; traversal can continue into it); a QUOTED segment is always
  * a key lookup and may contain dots (`meta."a.b"`, the jql quoted
  * selector). Against an OBJECT a numeric segment is an ordinary key
  * lookup (JSON keys can be "0"); an out-of-range index, an index into
  * a non-array, or a slice of a non-array is a missing path, same as an
  * absent key.
  *
  * A top-level unquoted `,` separates SELECTORS (jql multi-selection):
  * `a,b.c` resolves every selector from the root and yields the JSON
  * array of their values — strings re-quoted, containers nested, JSON
  * null as a null element. ANY selector missing makes the whole path a
  * miss (the jql walker errors on the first failing selector); a quoted
  * comma (`"k,l"`) stays an ordinary key. */
case class JsonField(child: Expression, path: String) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("exists", BooleanType, nullable = false),
    StructField("raw", StringType, nullable = true)))
  override def nullable: Boolean = false

  // bind-time grammar validation: a malformed path fails the query at
  // construction with the named error, not mid-task on an executor
  JsonField.splitSelectors(path)

  @transient private lazy val selectors: Array[Array[JsonField.Segment]] =
    JsonField.splitSelectors(path)

  def convert(u: UTF8String): InternalRow = {
    val root = JsonField.parse(u)
    val n = if (root == null) null else JsonField.resolve(root, selectors)
    InternalRow(n != null, JsonPayload.valueText(n))
  }

  override def eval(input: InternalRow): Any =
    convert(child.eval(input).asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jsonField", this, classOf[JsonField].getName)
    val childGen = child.genCode(ctx)
    val code =
      code"""
        ${childGen.code}
        InternalRow ${ev.value} =
          $ref.convert(${childGen.isNull} ? null : ${childGen.value});"""
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): JsonField =
    copy(child = newChild)
}

/** Every `-c` mapping path of a consume, resolved from ONE parse of the
  * payload: `struct<p0: struct<exists, raw, num>, p1: ...>`, one field per
  * path in order. `exists` and `raw` are [[JsonField]]'s answer for that
  * path (same grammar, same misses — a malformed or non-object payload
  * is a miss for every path); `num` reports whether the value's JSON
  * token is a number, which the VARCHAR coercion needs and the text
  * cannot tell (`"1065"` and `1065` have the same raw text). */
case class JsonPaths(child: Expression, paths: Seq[String]) extends UnaryExpression {
  override def dataType: DataType = StructType(paths.indices.map(i =>
    StructField(s"p$i", JsonPaths.FieldType, nullable = false)))
  override def nullable: Boolean = false

  // bind-time grammar validation, as in JsonField
  paths.foreach(JsonField.splitSelectors)

  @transient private lazy val selectors: Array[Array[Array[JsonField.Segment]]] =
    paths.map(JsonField.splitSelectors).toArray

  def convert(u: UTF8String): InternalRow = {
    val root = JsonField.parse(u)
    val out = new Array[Any](selectors.length)
    var i = 0
    while (i < out.length) {
      val n = if (root == null) null else JsonField.resolve(root, selectors(i))
      out(i) = InternalRow(n != null, JsonPayload.valueText(n), n != null && n.isNumber)
      i += 1
    }
    new GenericInternalRow(out)
  }

  override def eval(input: InternalRow): Any =
    convert(child.eval(input).asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jsonPaths", this, classOf[JsonPaths].getName)
    val childGen = child.genCode(ctx)
    val code =
      code"""
        ${childGen.code}
        InternalRow ${ev.value} =
          $ref.convert(${childGen.isNull} ? null : ${childGen.value});"""
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): JsonPaths =
    copy(child = newChild)
}

object JsonPaths {
  val FieldType: StructType = StructType(Seq(
    StructField("exists", BooleanType, nullable = false),
    StructField("raw", StringType, nullable = true),
    StructField("num", BooleanType, nullable = false)))
}
