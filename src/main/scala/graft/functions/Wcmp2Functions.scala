package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar building blocks for the rule catalog. Everything here is built
  * from `org.apache.spark.sql.functions._` (codegen'd, whole-stage
  * compatible) — no Scala UDFs in the hot path.
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

  /** First non-null element of an array (ANSI-safe; null if none). */
  def firstNonNull(arr: Column): Column = get(array_compact(arr), lit(0))

  /** Last non-null element of an array (ANSI-safe; null if none). */
  def lastNonNull(arr: Column): Column = {
    val compacted = array_compact(arr)
    get(compacted, size(compacted) - 1)
  }

  /** Last element of an array (ANSI-safe; null if empty). */
  def lastElem(arr: Column): Column = get(arr, size(arr) - 1)
}
