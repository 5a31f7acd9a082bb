package graft.expressions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** The level-wise WIS2 topic-channel walk, the analog of pywis_topics'
  * `th.validate`, as a plain static check the links kernel
  * ([[EtsWalks.links]]) calls (the tests' `TopicReference.validTopicChannel`
  * is the declarative reference, parity-pinned in OptimizationParitySpec).
  * The channel splits once and each level is one branch. Every table it
  * reads is an argument: the centre, data-policy and discipline codelists
  * and the sub-discipline table arrive as [[Codelist]] literals built on
  * the driver, so every JVM judges a channel against the same tables. */
object TopicChannel {

  /** `^[a-z0-9][a-z0-9-]*$` (the kebab token grammar) without regex. */
  private def isKebab(s: String): Boolean = {
    val n = s.length
    if (n == 0) return false
    val c0 = s.charAt(0)
    if (!((c0 >= 'a' && c0 <= 'z') || (c0 >= '0' && c0 <= '9'))) return false
    var i = 1
    while (i < n) {
      val c = s.charAt(i)
      if (!((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '-'))
        return false
      i += 1
    }
    true
  }

  private def allKebabFrom(t: Array[String], from: Int): Boolean = {
    var i = from
    while (i < t.length) {
      if (!isKebab(t(i))) return false
      i += 1
    }
    true
  }

  private def in(list: ArrayData, s: String): Boolean =
    Codelist.indexOf(list, UTF8String.fromString(s)) >= 0

  /** The level walk of a non-null channel: levels 1-3 literal
    * origin|cache/a/wis2, level 4 a centre (`-test` allowed), level 5 the
    * notification type; `data` -> policy and discipline, then the charset
    * and, for a discipline the sub-discipline table covers, the published
    * path up to any `experimental` token; metadata|reports -> charset.
    * `subTable` is a prefix closure (`Dims.prefixClosure`), empty when no
    * table is loaded; its one-token entries are the disciplines it covers.
    * Indices below are 0-based (the declarative slice()s are 1-based). */
  def valid(ch: String, centres: ArrayData, policies: ArrayData,
            disciplines: ArrayData, subTable: ArrayData): Boolean = {
    val t = ch.split("/", -1)
    val lvl = t.length
    if (lvl < 5) return false // typeOk needs level 5
    val typeOk = t(4) match {
      case "data" =>
        lvl >= 7 && in(policies, t(5)) && in(disciplines, t(6)) &&
          allKebabFrom(t, 7) && (!in(subTable, t(6)) || {
            // discipline-rooted sub path t(6)..t(lvl-1)
            val sub = java.util.Arrays.copyOfRange(t, 6, lvl)
            val expIdx = sub.indexOf("experimental")
            in(subTable, (if (expIdx >= 0) sub.take(expIdx) else sub)
              .mkString("/"))
          })
      case "metadata" | "reports" => allKebabFrom(t, 5)
      case _ => false
    }
    typeOk &&
      (t(0) == "origin" || t(0) == "cache") && t(1) == "a" && t(2) == "wis2" &&
      (in(centres, t(3)) || t(3).endsWith("-test"))
  }
}
