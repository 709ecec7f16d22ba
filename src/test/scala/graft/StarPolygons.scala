package graft

import graft.geo.Wkb
import org.locationtech.jts.geom.{Coordinate, Polygon}

/** Concave test polygons: a star-shaped (hence simple) ring of `k`
  * vertices around (cx, cy) whose radius wobbles with two sine terms, with
  * coordinates rounded to centimetres like a surveyed boundary.
  */
object StarPolygons {
  def star(cx: Double, cy: Double, r: Double, k: Int,
      p1: Double, p2: Double): Polygon = {
    val cs = Array.tabulate(k + 1) { j =>
      val t = 2 * math.Pi * (j % k) / k
      val rr = r * (0.6 + 0.25 * math.sin(3 * t + p1) + 0.12 * math.sin(7 * t + p2))
      new Coordinate(math.rint((cx + rr * math.cos(t)) * 100) / 100,
        math.rint((cy + rr * math.sin(t)) * 100) / 100)
    }
    Wkb.factory.createPolygon(cs)
  }
}
