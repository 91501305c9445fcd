package graft.functions

import graft.SparkSpec
import graft.sources.{ColumnMapping, MappedType}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim

/** JsonField path grammar: dotted object keys + numeric array indexes
  * (jql semantics — /root/reference/src/consume.rs:311-443). The typed
  * coercion matrix over array leaves is oracle-checked by the
  * jql_array_path CORRECTNESS entry; this spec pins the traversal corner
  * cases the fixture payload can't express. */
class JsonFieldSpec extends SparkSpec {

  private def field(json: String, path: String): (Boolean, String) = {
    val df = spark.range(1).select(
      shim.column(JsonField(shim.expression(lit(json)), path)).as("f"))
    val r = df.select(col("f.exists"), col("f.raw")).head()
    (r.getBoolean(0), if (r.isNullAt(1)) null else r.getString(1))
  }

  test("numeric segments index arrays; chains traverse array-of-object") {
    assert(field("""{"a": [10, 20, 30]}""", "a.0") == (true, "10"))
    assert(field("""{"a": [10, 20, 30]}""", "a.2") == (true, "30"))
    assert(field("""{"a": [{"b": 1}, {"b": 2}]}""", "a.1.b") == (true, "2"))
    // a container leaf serializes as JSON text (get_json_object behavior)
    assert(field("""{"a": [[1, 2]]}""", "a.0") == (true, "[1,2]"))
    assert(field("""{"a": [[1, 2]]}""", "a.0.1") == (true, "2"))
    // top-level array payload: the whole path can start with an index
    assert(field("""[5, {"x": 6}]""", "0") == (true, "5"))
    assert(field("""[5, {"x": 6}]""", "1.x") == (true, "6"))
  }

  test("a numeric segment against an OBJECT is a key lookup, not an index") {
    assert(field("""{"a": {"0": "zero"}}""", "a.0") == (true, "zero"))
  }

  test("misses: out-of-range, non-array index, array as object key") {
    assert(field("""{"a": [10]}""", "a.1") == (false, null))
    assert(field("""{"a": 7}""", "a.0") == (false, null))
    assert(field("""{"a": [10]}""", "a.b") == (false, null))
    // JSON null element EXISTS with null raw (distinct from missing)
    assert(field("""{"a": [null]}""", "a.0") == (true, null))
    // a >=10-digit numeral would overflow toInt: it must behave like any
    // other miss (no array that large exists), never crash the task
    assert(field("""{"a": [10]}""", "a.9999999999") == (false, null))
    assert(field("""{"a": [10]}""", "a.9999999999.b") == (false, null))
    // ...but it still works as an OBJECT key, like any digit string
    assert(field("""{"a": {"9999999999": "big"}}""", "a.9999999999") == (true, "big"))
  }

  test("quoted segments: dots protected, forced key semantics, escapes") {
    // dotted keys at top level and nested
    assert(field("""{"a.b": 1}""", "\"a.b\"") == (true, "1"))
    assert(field("""{"m": {"x.y": "v"}}""", "m.\"x.y\"") == (true, "v"))
    // a QUOTED numeric is a key lookup everywhere: on an object it finds
    // the "7" key; against an array it is a miss (arrays have no keys)
    assert(field("""{"m": {"7": 3}}""", "m.\"7\"") == (true, "3"))
    assert(field("""{"a": [10]}""", "a.\"0\"") == (false, null))
    assert(field("""{"a": [10]}""", "a.0") == (true, "10")) // unquoted still indexes
    // escaped quote and backslash inside a quoted key
    assert(field("""{"q\"k": 9}""", "\"q\\\"k\"") == (true, "9"))
    assert(field("{\"b\\\\k\": 8}", "\"b\\\\k\"") == (true, "8"))
    // partial quoting composes within one segment; empty quoted key is legal
    assert(field("""{"ab.c": 5}""", "a\"b.c\"") == (true, "5"))
    assert(field("""{"": 6}""", "\"\"") == (true, "6"))
  }

  test("array slices: inclusive bounds, open ends, clamp, nesting, misses") {
    val j = """{"a": [10, 20, 30, 40], "k": 5, "[0:1]": 8}"""
    assert(field(j, "a.[0:1]") == (true, "[10,20]"))      // inclusive hi
    assert(field(j, "a.[2:]") == (true, "[30,40]"))       // open hi
    assert(field(j, "a.[:1]") == (true, "[10,20]"))       // open lo
    assert(field(j, "a.[:]") == (true, "[10,20,30,40]"))  // full copy
    assert(field(j, "a.[2:99]") == (true, "[30,40]"))     // clamped
    assert(field(j, "a.[3:2]") == (true, "[]"))           // inverted -> empty, not a miss
    assert(field(j, "a.[1:2].0") == (true, "20"))         // traverse INTO a slice
    assert(field(j, "k.[0:1]") == (false, null))          // slice of a scalar: miss
    assert(field(j, "\"[0:1]\"") == (true, "8"))          // quoted = ordinary key
    // nested containers survive the slice serialization
    assert(field("""{"a": [{"x": 1}, 2]}""", "a.[0:0]") == (true, """[{"x":1}]"""))
    // a 10-digit bound is not a slice (overflow rule) -> ordinary key miss
    assert(field(j, "a.[0:9999999999]") == (false, null))
  }

  test("malformed paths fail at bind time with the named error") {
    def bad(path: String): String =
      intercept[IllegalArgumentException](
        JsonField(shim.expression(lit("{}")), path)).getMessage
    assert(bad("a.\"b").contains("unterminated quote"))
    assert(bad("\"a\\").contains("trailing escape"))
    assert(bad("\"a\\n\"").contains("unsupported escape"))
    assert(bad("a..b").contains("empty segment"))
    assert(bad(".a").contains("empty segment"))
    // ...and the -c parse surfaces the same error as a CLI-style Left
    val e = ColumnMapping.parse("x:i", "a.\"b")
    assert(e.isLeft && e.swap.toOption.get.contains("unterminated quote"))
  }

  /** `m` through the consume projection: the one shared JsonPaths parse. */
  private def projected(m: ColumnMapping, json: String): org.apache.spark.sql.Row =
    ColumnMapping.project(spark.range(1).select(lit(json).as("value")), Seq(m)).head()

  test("project resolves quoted paths through the path grammar") {
    // the raw text `"a.b"` (quotes included) is not the key: the quote
    // grammar of JsonField.splitSelectors applies
    val got = projected(ColumnMapping("x", MappedType.I, "\"a.b\""), """{"a.b": 7}""")
    assert(got.getInt(0) == 7)
  }

  test("project indexes a top-level array payload with a numeric path") {
    // a top-level array payload has no keys: a purely numeric path indexes
    val got = projected(ColumnMapping("x", MappedType.I, "0"), """[42]""")
    assert(got.getInt(0) == 42)
  }

  test("multi-selection: top-level comma yields the array of all values") {
    val j = """{"a": 1, "b": {"c": "s", "x.y": 2}, "arr": [10, 20], "n": null}"""
    assert(field(j, "a,b.c") == (true, """[1,"s"]"""))      // string re-quotes
    assert(field(j, "a,arr.1") == (true, "[1,20]"))         // index composes
    assert(field(j, "b.\"x.y\",a") == (true, "[2,1]"))      // quoted seg composes
    assert(field(j, "arr.[0:1],a") == (true, "[[10,20],1]")) // slice composes
    assert(field(j, "a,b") == (true, """[1,{"c":"s","x.y":2}]""")) // container nests
    assert(field(j, "n,a") == (true, "[null,1]"))           // JSON null element
    assert(field(j, "a,a,a") == (true, "[1,1,1]"))          // repeats allowed
  }

  test("multi-selection misses and the quoted-comma key") {
    val j = """{"a": 1, "k,l": 7}"""
    // ANY failing selector fails the whole path (jql walker errors)
    assert(field(j, "a,zz") == (false, null))
    assert(field(j, "zz,a") == (false, null))
    // a QUOTED comma is an ordinary key, not a separator
    assert(field(j, "\"k,l\"") == (true, "7"))
    assert(field(j, "k,l") == (false, null)) // unquoted: two selectors, both miss
    // empty selectors are bind-time grammar errors
    def bad(path: String): String =
      intercept[IllegalArgumentException](
        JsonField(shim.expression(lit("{}")), path)).getMessage
    assert(bad("a,").contains("empty segment"))
    assert(bad(",a").contains("empty segment"))
    assert(bad("a,,b").contains("empty segment"))
    // single-selector contexts reject a multi path with a named error
    assert(intercept[IllegalArgumentException](
      JsonField.splitPath("a,b")).getMessage.contains("single selector"))
  }

  test("project resolves comma paths as multi-selection") {
    // `a,b` is jql multi-selection, not one literal key
    val got = projected(ColumnMapping("x", MappedType.S, "a,b"), """{"a": 1, "b": 2}""")
    assert(got.getString(0) == "[1,2]")
  }

  test("VARCHAR mappings drop JSON numbers by token type, not by text") {
    // an all-digit JSON STRING is a string (Helsinki's route/desi/dir);
    // only a JSON NUMBER mapped into VARCHAR is dropped
    val j = """{"route": "1065", "n": 1065, "f": "-2.5e3", "x": 2.5}"""
    val maps = Seq(ColumnMapping("route", MappedType.S, "route"),
      ColumnMapping("n", MappedType.S, "n"),
      ColumnMapping("f", MappedType.S, "f"),
      ColumnMapping("x", MappedType.S, "x"),
      ColumnMapping("ni", MappedType.I, "n"))
    val r = ColumnMapping.project(spark.range(1).select(lit(j).as("value")), maps).head()
    assert(r.getString(0) == "1065")
    assert(r.isNullAt(1))
    assert(r.getString(2) == "-2.5e3")
    assert(r.isNullAt(3))
    assert(r.getInt(4) == 1065)
    // the single-mapping column agrees
    assert(spark.range(1).select(
      maps.head.toColumn(lit(j))).head().getString(0) == "1065")
  }

  test("malformed and non-object payloads: batch tail == -d stream, path misses") {
    import graft.sources.{ConsumeOpt, FluvioDuck}
    val payloads = Seq("not json", "[1,2]", """{"k": "v"}""", "7")
    val df = payloads.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .foldLeft(spark.range(0).select(lit(0L).as("offset"), lit("").as("value"))) {
        case (acc, (o, v)) =>
          acc.unionByName(spark.range(1).select(lit(o).as("offset"), lit(v).as("value")))
      }
      .withColumn("timestamp", current_timestamp())
    val opt = ConsumeOpt.parse("t -B -c k=k -c ki:i=k -c m=meta.k").toOption.get
    def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val batch = rows(FluvioDuck.projectAndOrder(df, opt))
    val stream = rows(graft.streaming.ConsumeStream.fromRecords(df, opt,
      "offset", "timestamp", "value"))
    assert(batch == stream)
    assert(batch.count(_ == """Node "k" not found|null|Node "meta.k" not found""") == 3,
      batch.mkString("\n"))
    assert(batch.contains("""v|null|Node "meta.k" not found"""), batch.mkString("\n"))
  }
}
