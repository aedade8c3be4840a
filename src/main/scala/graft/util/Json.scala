package graft.util

import com.fasterxml.jackson.core.io.JsonStringEncoder

/** The one JSON string escaper for every hand-built JSON document in the
  * project: snapshot manifests, request docs, Verify's oracle_sql.json and
  * Bench's result line (built with `obj`).
  */
object Json {

  /** `s` as a JSON string literal (`null` for null). Jackson (Spark's JSON
    * library) escapes `"`, `\` and every control character, so any strict
    * reader (Python's `json.load`, Jackson's own) reads `s` back exactly.
    */
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""

  /** A JSON object of `fields` in their order; each value is already a JSON
    * literal (a number, `str(...)`, or a nested `obj`).
    */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
