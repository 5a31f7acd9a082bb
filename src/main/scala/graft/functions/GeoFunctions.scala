package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** GeoJSON bounds without a UDF.
  *
  * The reference computes `shapely.geometry.shape(geom).bounds` and checks
  * the 4 bounds against WGS84 ranges
  * (`/root/reference/pywcmp/wcmp2/ets.py:246-253`).
  *
  * The position list comes flattened from the parse
  * ([[graft.expressions.JsonFacts]] `geo_positions`, every geometry type,
  * 2-D and 3-D positions); the math here is higher-order
  * `transform`/`array_min`/`array_max` over it — codegen'd, no UDF. Only
  * the first two ordinates participate, like shapely's xy bounds.
  */
object GeoFunctions {

  /** struct(minx, miny, maxx, maxy) — shapely `.bounds` equivalent — from a
    * PRE-MATERIALIZED position list; referencing positions via an
    * attribute keeps the coords parse single-evaluation. */
  def boundsFromPositions(pos: Column): Column = {
    val xs = transform(pos, p => get(p, lit(0)))
    val ys = transform(pos, p => get(p, lit(1)))
    struct(
      array_min(xs).as("minx"), array_min(ys).as("miny"),
      array_max(xs).as("maxx"), array_max(ys).as("maxy"))
  }

  /** All 4 bounds within [-180,180] x [-90,90] (`ets.py:250-253`). */
  def positionsInWgs84(pos: Column): Column = {
    val b = boundsFromPositions(pos)
    b.getField("minx").between(-180, 180) &&
      b.getField("miny").between(-90, 90) &&
      b.getField("maxx").between(-180, 180) &&
      b.getField("maxy").between(-90, 90)
  }
}
