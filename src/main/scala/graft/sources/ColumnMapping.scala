package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Declared output type of a `-c name:ty=path` mapping.
  *
  * Reference type grammar (`/root/reference/src/consume.rs:223-245`):
  * `i` → INTEGER, `l` → UINTEGER (we use Spark LongType — Spark has no
  * unsigned and the reference itself writes i64 into it,
  * `/root/reference/src/consume.rs:373-377`), `f` → FLOAT, `d` → DOUBLE,
  * `s` → VARCHAR, `t` → TIMESTAMP_MS, unknown/absent → VARCHAR.
  */
sealed abstract class MappedType(val suffix: String, val spark: DataType)
object MappedType {
  case object I extends MappedType("i", IntegerType)
  case object L extends MappedType("l", LongType)
  case object F extends MappedType("f", FloatType)
  case object D extends MappedType("d", DoubleType)
  case object S extends MappedType("s", StringType)
  case object T extends MappedType("t", TimestampType)

  def fromSuffix(s: String): MappedType = s match {
    case "i" => I
    case "l" => L
    case "f" => F
    case "d" => D
    case "s" => S
    case "t" => T
    case _   => S // unknown suffix → VARCHAR (/root/reference/src/consume.rs:237)
  }
}

/** One `-c name[:ty]=json.path` column mapping: project a field out of the
  * record's JSON payload into a typed column.
  *
  * The reference evaluates the path with the `jql` crate per record
  * (`/root/reference/src/consume.rs:311-443`); we compile the same semantics
  * once into Catalyst expressions (`get_json_object` + casts + `coalesce`),
  * which whole-stage-codegen then runs over the scan — no per-record
  * interpreter.
  *
  * Coercion matrix reproduced from `/root/reference/src/consume.rs:327-443`
  * (see SURVEY.md §1.2):
  *   - JSON string → VARCHAR verbatim; `:t` → RFC3339-parsed TIMESTAMP.
  *   - JSON number → cast to the declared numeric type; a number mapped into
  *     a `:s` column is DROPPED (null here; the reference leaves the slot
  *     untouched).
  *   - JSON bool → 0/1 for numeric columns.
  *   - JSON null → 0 for numeric, the literal string "null" for VARCHAR
  *     (the reference never emits SQL NULL for JSON null).
  *   - JSON object/array → serialized JSON string (VARCHAR only).
  *   - Missing path (jql error) → for VARCHAR the error text itself is the
  *     value (reference writes the jql error message into the column,
  *     `/root/reference/src/consume.rs:329-336`); for typed columns → NULL
  *     (documented divergence: reference behavior is undefined there). A
  *     malformed or non-object payload misses every path, on every face.
  */
final case class ColumnMapping(name: String, ty: MappedType, path: String) {

  /** Error text written for a missing path, mirroring the reference's
    * "error as value" quirk for VARCHAR columns. */
  def missingPathError: String = s"""Node "$path" not found"""

  /** Compile this mapping alone into a Column over the JSON payload
    * `value`: one native [[graft.functions.JsonPaths]] parse yields the
    * value text (get_json_object semantics), path existence and the JSON
    * token type in a single pass — the get_json_object /
    * json_object_keys built-ins it replaces are CodegenFallback
    * (interpreted inside codegen'd stages) and degrade pathologically in
    * long-lived JVMs. A projection of several mappings shares one parse
    * through [[ColumnMapping.project]]. */
  def toColumn(value: Column): Column = {
    import org.apache.spark.sql.graft.shim
    fromResolved(shim.column(
      graft.functions.JsonPaths(shim.expression(value), Seq(path))).getField("p0"))
  }

  /** This mapping's typed column from its resolved
    * `struct<exists, raw, num>` (one field of a JsonPaths result). */
  private def fromResolved(r: Column): Column =
    buildTyped(r.getField("raw"), r.getField("exists"), r.getField("num"))

  private def buildTyped(raw: Column, exists: Column, isNumber: Column): Column = {
    val isJsonNull = exists && raw.isNull
    val out: Column = ty match {
      case MappedType.S =>
        // object/array arrive as serialized JSON already; a JSON number
        // mapped into a string column is dropped (ref: silent skip) —
        // decided by the token type, so an all-digit JSON STRING
        // (`"route":"1065"`) is kept verbatim.
        when(isJsonNull, lit("null"))
          .when(!exists, lit(missingPathError))
          .when(isNumber, lit(null).cast(StringType))
          .otherwise(raw)
      case MappedType.T =>
        // RFC3339 parse, e.g. 2023-01-28T23:54:23.405Z
        // (/root/reference/src/consume.rs:342-355); parse failure → NULL.
        when(isJsonNull || !exists, lit(null).cast(TimestampType))
          .otherwise(to_timestamp(raw))
      case numeric =>
        val boolAs01 =
          when(raw === "true", lit(1)).when(raw === "false", lit(0))
        when(isJsonNull, lit(0).cast(numeric.spark))
          .when(!exists, lit(null).cast(numeric.spark))
          .when(raw.isin("true", "false"), boolAs01.cast(numeric.spark))
          .otherwise(raw.try_cast(numeric.spark))
    }
    out.alias(name)
  }
}

object ColumnMapping {

  /** Project `mappings` out of `df`'s JSON `value` column after the
    * `leading` columns. The payload is parsed ONCE per row for all of
    * them: one [[graft.functions.JsonPaths]] resolves every mapping path
    * into its own projection (Catalyst's CollapseProject does not inline
    * a non-cheap, multiply referenced alias), and each mapping types its
    * field of that struct. Shared by the batch consume tail and the `-d`
    * stream, so both faces give one answer per payload. */
  def project(df: DataFrame, mappings: Seq[ColumnMapping], leading: Column*): DataFrame = {
    import org.apache.spark.sql.graft.shim
    val resolved = df.withColumn("__paths", shim.column(
      graft.functions.JsonPaths(shim.expression(col("value")), mappings.map(_.path))))
    resolved.select(leading ++ mappings.zipWithIndex.map { case (m, i) =>
      m.fromResolved(col("__paths").getField(s"p$i"))
    }: _*)
  }

  /** One-shot parse of the JSON payload's TOP-LEVEL fields into
    * map<string,string>, for plan code that keys into the payload by
    * name (the filter-json-eq transform, payload-key entries); `-c`
    * mappings go through [[project]] instead. Native
    * [[graft.functions.JsonToMap]], not `from_json`: JsonToStructs is
    * CodegenFallback and its interpreted eval degrades in long-lived JVMs
    * (3 s → 220 s measured on an identical query). */
  def parsed(value: Column): Column = {
    import org.apache.spark.sql.graft.shim
    shim.column(graft.functions.JsonToMap(shim.expression(value)))
  }

  /** Parse the `name[:ty]` left side and the (possibly quoted) path right
    * side of a `-c` mapping. Quotes around the WHOLE path are stripped
    * (the README shows `-c time:t="tst"`,
    * `/root/reference/README.md:152-167`) — so a top-level key that itself
    * contains dots is written with an extra quote layer (`'"a.b"'`), and
    * quoted SEGMENTS inside the remaining path (`meta."a.b"`, the jql
    * quoted selector — see [[graft.functions.JsonField.splitSelectors]])
    * pass through to the path grammar, as do top-level commas (jql
    * multi-selection: `a,b.c` yields the array of both values). A
    * malformed path (unterminated quote, bad escape, empty segment or
    * selector) is a parse error here, the same loud surface as a bad
    * flag. */
  def parse(nameSpec: String, rawPath: String): Either[String, ColumnMapping] = {
    val (name, ty) = nameSpec.lastIndexOf(':') match {
      case -1 => (nameSpec, MappedType.S)
      case i  => (nameSpec.substring(0, i), MappedType.fromSuffix(nameSpec.substring(i + 1)))
    }
    if (name.isEmpty) Left(s"invalid column mapping: empty name in `$nameSpec`")
    else {
      val path = stripQuotes(rawPath)
      if (path.isEmpty) Left(s"invalid column mapping: empty path for `$name`")
      else
        try {
          graft.functions.JsonField.splitSelectors(path)
          Right(ColumnMapping(name, ty, path))
        } catch {
          case e: IllegalArgumentException =>
            Left(s"invalid column mapping for `$name`: ${e.getMessage}")
        }
    }
  }

  private def stripQuotes(s: String): String =
    if (s.length >= 2 &&
      ((s.head == '"' && s.last == '"') || (s.head == '\'' && s.last == '\'')))
      s.substring(1, s.length - 1)
    else s
}
