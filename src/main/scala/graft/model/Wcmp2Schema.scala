package graft.model

import org.apache.spark.sql.types._

/** Explicit StructType for the WCMP2 record payload (`content` column).
  *
  * Shape derived from the reference fixture
  * `/root/reference/tests/data/wcmp2-passing.json:1-161` and the duck-typed
  * accesses in `/root/reference/pywcmp/wcmp2/ets.py` / `kpi.py`.
  *
  * Design notes (SURVEY.md §1.2):
  *  - `geometry` is intentionally NOT in this struct: its nesting depth
  *    varies by geometry type, so the [[graft.expressions.JsonFacts]]
  *    walk reports its presence and flattens its positions per type
  *    (see [[graft.expressions.GeoBounds]]).
  *  - datetimes stay `StringType`; the reference validates format with
  *    3 explicit strptime patterns (`util.py:241-250`), it never converts.
  *  - interval endpoints stay strings: the reference compares them
  *    lexicographically (`kpi.py:260`), which Spark string `<=` matches.
  *  - presence-sensitive keys (`wmo:dataPolicy`, `externalIds`) are ALSO
  *    checked against the `$.properties` key list the same JsonFacts walk
  *    collects, because a typed struct conflates missing and null
  *    (SURVEY.md §7.4-1).
  */
object Wcmp2Schema {

  val concept: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("url", StringType)))

  val theme: StructType = StructType(Seq(
    StructField("concepts", ArrayType(concept)),
    StructField("scheme", StringType)))

  val contactLink: StructType = StructType(Seq(
    StructField("rel", StringType),
    StructField("type", StringType),
    StructField("href", StringType)))

  val email: StructType = StructType(Seq(
    StructField("value", StringType)))

  val phone: StructType = StructType(Seq(
    StructField("value", StringType)))

  val contact: StructType = StructType(Seq(
    StructField("organization", StringType),
    StructField("position", StringType),
    StructField("phones", ArrayType(phone)),
    StructField("emails", ArrayType(email)),
    StructField("links", ArrayType(contactLink)),
    StructField("contactInstructions", StringType),
    StructField("roles", ArrayType(StringType))))

  val externalId: StructType = StructType(Seq(
    StructField("scheme", StringType),
    StructField("value", StringType)))

  val properties: StructType = StructType(Seq(
    StructField("title", StringType),
    StructField("description", StringType),
    StructField("themes", ArrayType(theme)),
    StructField("contacts", ArrayType(contact)),
    StructField("type", StringType),
    StructField("created", StringType),
    StructField("updated", StringType),
    StructField("wmo:dataPolicy", StringType),
    StructField("externalIds", ArrayType(externalId))))

  val securityScheme: StructType = StructType(Seq(
    StructField("description", StringType)))

  val link: StructType = StructType(Seq(
    StructField("rel", StringType),
    StructField("href", StringType),
    StructField("type", StringType),
    StructField("hreflang", StringType),
    StructField("title", StringType),
    StructField("channel", StringType),
    StructField("security", MapType(StringType, securityScheme))))

  val timeExtent: StructType = StructType(Seq(
    StructField("interval", ArrayType(StringType)),
    StructField("resolution", StringType)))

  val additionalExtents: StructType = StructType(Seq(
    StructField("temporal", timeExtent)))

  /** Root payload schema (geometry handled out-of-band, see scaladoc). */
  val root: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("conformsTo", ArrayType(StringType)),
    StructField("type", StringType),
    StructField("time", timeExtent),
    StructField("properties", properties),
    StructField("links", ArrayType(link)),
    StructField("additionalExtents", additionalExtents)))
}
