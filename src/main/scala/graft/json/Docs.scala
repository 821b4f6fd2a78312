package graft.json

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The semi-structured document model: null-lenient typed extraction over raw
  * JSON, Spark-first.
  *
  * The reference stores each crawled document as a flat path→bytes map
  * (`SqlMap<string, byte[]>`, /root/reference/USQL/CreateGitHubDataTable.usql:21)
  * produced by a custom `FlatJson` extractor
  * (/root/reference/USQL/StageData.usql:20-22), then reads typed columns with
  * `Utility.Get{String,Integer,Boolean,DateTime,PiiString}` scalar UDFs
  * (/root/reference/USQL/ProcessDaily.usql:99-129; 1,600+ call sites).
  *
  * Spark-first we keep the raw JSON as one `StringType` column and extract
  * with `get_json_object` — a codegen'd Catalyst expression with the same
  * null-on-absent / null-on-mistype semantics, no UDF in the hot path. The
  * columnar parquet layout plus Catalyst column pruning means only extracted
  * paths are ever materialized, which at 100 TB strictly beats the
  * reference's row-oriented byte map.
  *
  * `flattenJson` reproduces the exact `FlatJson` key syntax ("author.id",
  * "files[0].filename" — ProcessDaily.usql:104,291) for fidelity tests and
  * for consumers that genuinely need the whole document as a map.
  */
object Docs {

  /** `Utility.GetString(Data, path)` — null if absent (ProcessDaily.usql:99). */
  def jstr(data: Column, path: String): Column =
    get_json_object(data, "$." + path)

  /** `Utility.GetInteger` — null on absent/non-numeric (ProcessDaily.usql:104).
    * `try_cast`, not `cast`: under Spark 4 ANSI semantics a plain cast throws
    * on mismatch, but the Get* contract is null-on-mistype. */
  def jint(data: Column, path: String): Column =
    jstr(data, path).try_cast("int")

  /** 64-bit variant for ids that can overflow int at GitHub scale. */
  def jlong(data: Column, path: String): Column =
    jstr(data, path).try_cast("long")

  /** `Utility.GetBoolean` (ProcessDaily.usql:106). */
  def jbool(data: Column, path: String): Column =
    jstr(data, path).try_cast("boolean")

  /** `Utility.GetDateTime` — ISO-8601 → UTC timestamp (ProcessDaily.usql:108).
    * Session TZ is pinned UTC, matching the reference's
    * `DateTimeStyles.AssumeUniversal` parse (ProcessDaily.usql:16). */
  def jts(data: Column, path: String): Column =
    jstr(data, path).try_cast("timestamp")

  /** `Utility.GetPiiString` (ProcessDaily.usql:109-114) — same extraction,
    * PII-tagged at the column level so downstream sinks can locate and
    * redact personal data without schema archaeology. */
  def jpii(data: Column, path: String): Column = {
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean("pii", true).build()
    jstr(data, path).as(path.replace('.', '_'), meta)
  }

  private lazy val mapper = new ObjectMapper()

  /** Flatten one JSON document to the reference's path→value map: dotted
    * object paths, `field[i]` array entries, scalar leaves rendered as their
    * JSON text. Malformed input → null (`silent: true`,
    * StageData.usql:22 — the caller counts and drops, never fails). */
  def flatten(json: String): Map[String, String] =
    if (json == null) null
    else
      try {
        val root = mapper.readTree(json)
        // blank/whitespace input parses to null or MissingNode depending
        // on the Jackson version — both are "no document", not {}
        if (root == null || root.isMissingNode) return null
        val out = mutable.LinkedHashMap.empty[String, String]
        def walk(node: JsonNode, prefix: String): Unit =
          if (node.isObject) {
            val it = node.fields()
            while (it.hasNext) {
              val e = it.next()
              val key = if (prefix.isEmpty) e.getKey else s"$prefix.${e.getKey}"
              walk(e.getValue, key)
            }
          } else if (node.isArray) {
            var i = 0
            while (i < node.size()) { walk(node.get(i), s"$prefix[$i]"); i += 1 }
          } else if (!node.isNull) {
            out(prefix) = if (node.isTextual) node.asText() else node.toString
          }
        walk(root, "")
        out.toMap
      } catch { case _: Exception => null }

  /** `flatten` as a column function, for staging-layer fidelity mode. */
  val flattenUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf(flatten _)
}
