package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar building blocks for the rule catalog, built from
  * `org.apache.spark.sql.functions._` with no Scala UDF and no
  * higher-order function: each is a plain expression that whole-stage
  * codegen compiles. The array walks are kernels
  * (`graft.expressions.EtsWalks`, `KpiWalks`, `Summaries`).
  */
object Wcmp2Functions {

  /** Python-exact semantics helpers -------------------------------------- */

  /** `str.isascii()`. */
  def pyIsAscii(c: Column): Column = c.rlike("^[\\x00-\\x7F]*$")

  /** RFC3339 created-datetime validity, any-of-3 strptime semantics
    * (`/root/reference/pywcmp/util.py:232-255`):
    *   %Y-%m-%dT%H:%M:%SZ | %Y-%m-%dT%H:%M:%S.%fZ | %Y-%m-%dT%H:%M:%S%z
    * Implemented as: calendar validity of the 19-char prefix via
    * `try_to_timestamp` + structural regex for the three accepted suffixes
    * (Z, .1-6 fractional digits + Z, or a ±HHMM / ±HHMMSS / ±HH:MM[:SS]
    * offset — exactly the forms Python's %z accepts; a bare ±HH raises in
    * `strptime` and is rejected here too). */
  def isValidCreatedDatetime(c: Column): Column = {
    val calendarOk =
      try_to_timestamp(substring(c, 1, 19), lit("yyyy-MM-dd'T'HH:mm:ss"))
        .isNotNull
    val structural = c.rlike(
      "^[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}" +
        "(Z|\\.[0-9]{1,6}Z|[+-]([0-9]{4}|[0-9]{6}|" +
        "[0-9]{2}:[0-9]{2}(:[0-9]{2})?))$")
    calendarOk && structural
  }

  /** Last element of an array (ANSI-safe; null if empty). */
  def lastElem(arr: Column): Column = get(arr, size(arr) - 1)
}
