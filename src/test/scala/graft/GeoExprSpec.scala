package graft

import graft.geo.GeoExpressions._
import graft.geo.{PointTester, StPredicatePoint, TesterCache, Wkb}
import java.util.concurrent.{Callable, CyclicBarrier, Executors}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

class GeoExprSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    ("POINT (5 5)", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
    ("POINT (50 5)", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
    ("LINESTRING (0 0, 20 20)", "POLYGON ((5 0, 15 0, 15 10, 5 10, 5 0))"))
    .toDF("wktA", "wktB")
    .withColumn("a", st_geomfromtext(col("wktA")))
    .withColumn("b", st_geomfromtext(col("wktB")))

  test("st_distance / st_envelope / st_within / st_intersection match JTS") {
    val rows = df.select(
      st_distance(col("a"), col("b")).as("d"),
      st_envelope(col("a")).as("env"),
      st_within(col("a"), col("b")).as("w"),
      st_astext(st_intersection(col("a"), col("b"))).as("ix")).collect()
    assert(rows(0).getDouble(0) == 0.0)
    assert(rows(1).getDouble(0) == 40.0) // (50,5) to x=10 edge
    assert(rows(0).getSeq[Double](1) == Seq(5d, 5d, 5d, 5d))
    assert(rows(2).getSeq[Double](1) == Seq(0d, 0d, 20d, 20d))
    assert(rows(0).getBoolean(2) && !rows(1).getBoolean(2))
    assert(rows(2).getString(3) == "LINESTRING (5 5, 10 10)")
  }

  test("null geometry propagates null, not an exception") {
    val r = Seq((Option.empty[Array[Byte]], Wkb.write(Wkb.point(1, 1))))
      .toDF("a", "b")
      .select(st_intersects(col("a"), col("b"))).head()
    assert(r.isNullAt(0))
  }

  test("cellId equality iff same grid ref (property)") {
    val gen = for {
      e1 <- Gen.choose(0L, 699999L); n1 <- Gen.choose(0L, 1299999L)
      e2 <- Gen.choose(0L, 699999L); n2 <- Gen.choose(0L, 1299999L)
    } yield (e1, n1, e2, n2)
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300),
      Prop.forAll(gen) { case (e1, n1, e2, n2) =>
        val sameId = graft.index.Bng.cellId(e1, n1, 10000) ==
          graft.index.Bng.cellId(e2, n2, 10000)
        val sameRef = graft.index.Bng.gridRef(e1, n1, 10000) ==
          graft.index.Bng.gridRef(e2, n2, 10000)
        sameId == sameRef
      })
    assert(res.passed, res.status.toString)
  }

  test("codegen compile gates: keyed PIP predicate, h3_parent, multi-res struct") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType}
    // Generated-code compile failures silently fall back to the
    // interpreter (and for StPredicatePointKeyed that would reintroduce
    // the per-candidate-row boxing + WKB copy the codegen exists to
    // remove) — GenerateUnsafeProjection.generate throws instead.
    val wkb = graft.geo.Wkb.write(graft.geo.Wkb.box(0, 0, 100, 100))
    val key = graft.geo.StPredicatePoint.hashBytes(wkb)
    val pred = graft.geo.StPredicatePointKeyed(
      BoundReference(0, LongType, nullable = false),
      BoundReference(1, BinaryType, nullable = false),
      BoundReference(2, DoubleType, nullable = false),
      BoundReference(3, DoubleType, nullable = false), "covers")
    val proj = GenerateUnsafeProjection.generate(Seq(pred), false)
    val in = InternalRow(key, wkb, 50.0, 50.0)
    assert(proj(in).getBoolean(0))
    val outP = InternalRow(key, wkb, 500.0, 50.0)
    assert(!proj(outP).getBoolean(0))
    // boundary is covers-inclusive
    assert(proj(InternalRow(key, wkb, 0.0, 0.0)).getBoolean(0))

    val par = graft.index.H3Parent(BoundReference(0, LongType, nullable = false), 7)
    val pp = GenerateUnsafeProjection.generate(Seq(par), false)
    val id8 = graft.index.H3.cellId(51.5, -0.1, 8)
    assert(pp(InternalRow(id8)).getLong(0) == graft.index.H3.parent(id8, 7))

    val multi = graft.index.SphericalCellsMulti(
      BoundReference(0, DoubleType, nullable = false),
      BoundReference(1, DoubleType, nullable = false), 7, 12, 12)
    val mp = GenerateUnsafeProjection.generate(Seq(multi), false)
    val row = mp(InternalRow(530000.0, 180000.0))
    val st = row.getStruct(0, 2)
    val ids = st.getArray(0).toLongArray()
    assert(ids.length == 6)
    // finest-first chain equals the scalar encoders + parent walk
    val m = graft.index.Transform.bngToWgs84Memo(530000.0, 180000.0)
    assert(ids(0) == graft.index.H3.cellId(m(2), m(3), 12))
    assert(ids(5) == graft.index.H3.parent(ids(4), 7))
    assert(st.getLong(1) == graft.index.S2.cellId(m(2), m(3), 12))
  }

  // More distinct concave polygons than the 512 entries a per-thread LRU
  // once held, so a cache that forgets or mixes up testers shows here.
  private val polysGen: Gen[IndexedSeq[Array[Byte]]] = Gen.listOfN(640, for {
    cx <- Gen.choose(0.0, 600000.0); cy <- Gen.choose(0.0, 1200000.0)
    r <- Gen.choose(20.0, 4000.0); k <- Gen.choose(5, 48)
    p1 <- Gen.choose(0.0, 2 * math.Pi); p2 <- Gen.choose(0.0, 2 * math.Pi)
  } yield Wkb.write(StarPolygons.star(cx, cy, r, k, p1, p2))).map(_.toIndexedSeq)

  /** (polygon, x, y) queries: points in and around each envelope, and
    * exact vertices, where covers and contains disagree.
    */
  private def queriesGen(polys: IndexedSeq[Array[Byte]]): Gen[IndexedSeq[(Int, Double, Double)]] = {
    val geoms = polys.map(Wkb.read)
    Gen.listOfN(4000, for {
      i <- Gen.choose(0, polys.length - 1)
      u <- Gen.choose(-0.1, 1.1); v <- Gen.choose(-0.1, 1.1)
      vertex <- Gen.frequency(3 -> Gen.const(-1), 1 -> Gen.choose(0, 1000))
    } yield {
      val g = geoms(i)
      if (vertex >= 0) {
        val c = g.getCoordinates()(vertex % (g.getNumPoints - 1))
        (i, c.x, c.y)
      } else {
        val e = g.getEnvelopeInternal
        (i, e.getMinX + u * e.getWidth, e.getMinY + v * e.getHeight)
      }
    }).map(_.toIndexedSeq)
  }

  /** Runs `work(thread)` on every thread of `pool` at once (a barrier
    * lines up their first step, so first sightings of a key race) and
    * returns the results in thread order.
    */
  private def onAllThreads[T](pool: java.util.concurrent.ExecutorService,
      threads: Int)(work: Int => T): Seq[T] = {
    val start = new CyclicBarrier(threads)
    (0 until threads).map { t =>
      pool.submit(new Callable[T] { def call(): T = { start.await(); work(t) } })
    }.map(_.get)
  }

  test("shared tester cache: 8 threads answer covers/contains exactly like JTS (property)") {
    val threads = 8
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val gen = for { polys <- polysGen; qs <- queriesGen(polys) } yield (polys, qs)
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(4),
        Prop.forAllNoShrink(gen) { case (polys, qs) =>
          val keys = polys.map(StPredicatePoint.hashBytes)
          val geoms = polys.map(Wkb.read)
          val expected = qs.map { case (i, x, y) =>
            val p = Wkb.point(x, y)
            (geoms(i).covers(p), geoms(i).contains(p))
          }
          val wrong = onAllThreads(pool, threads) { t =>
            // Each thread walks every query from its own offset.
            (0 until qs.length).count { n =>
              val q = (n + t * qs.length / threads) % qs.length
              val (i, x, y) = qs(q)
              val tester = StPredicatePoint.testerByKey(keys(i), polys(i))
              StPredicatePoint.testPoint(tester, x, y, contains = false) != expected(q)._1 ||
                StPredicatePoint.testPoint(tester, x, y, contains = true) != expected(q)._2
            }
          }
          expected.exists(e => e._1 && !e._2) && wrong.sum == 0
        })
      assert(res.passed, res.status.toString)
    } finally pool.shutdown()
  }

  test("tester cache past its vertex budget: retained vertices stay within it, answers stay exact") {
    val threads = 8
    val pool = Executors.newFixedThreadPool(threads)
    def lookup(c: TesterCache, k: Long, wkb: Array[Byte]): PointTester = {
      val hit = c.get(k)
      if (hit != null) hit else c.put(k, wkb)
    }
    try {
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(4),
        Prop.forAllNoShrink(polysGen) { polys =>
          val keys = polys.map(StPredicatePoint.hashBytes)
          val geoms = polys.map(Wkb.read)
          val budget = 3000L // a few dozen of these polygons
          val cache = new TesterCache(budget)
          def exact(i: Int, t: PointTester): Boolean = {
            val c = geoms(i).getCentroid.getCoordinate
            val v = geoms(i).getCoordinates()(0)
            t.covers(c.x, c.y) == geoms(i).covers(Wkb.point(c.x, c.y)) &&
              t.contains(c.x, c.y) == geoms(i).contains(Wkb.point(c.x, c.y)) &&
              t.covers(v.x, v.y) && !t.contains(v.x, v.y)
          }
          val bad = onAllThreads(pool, threads) { t =>
            (0 until polys.length).count { n =>
              val i = (n + t * polys.length / threads) % polys.length
              val ok = exact(i, lookup(cache, keys(i), polys(i)))
              !ok || cache.retainedVertices > budget
            }
          }
          val dropped = cache.size < polys.length
          // After the drops, a sequential pass still answers exactly.
          val after = polys.indices.forall(i => exact(i, lookup(cache, keys(i), polys(i))))
          bad.sum == 0 && dropped && after && cache.retainedVertices <= budget
        })
      assert(res.passed, res.status.toString)

      // Racing misses on one key all get the first tester stored.
      val wkb = Wkb.write(StarPolygons.star(0, 0, 100, 32, 0.3, 1.1))
      val shared = new TesterCache(vertexBudget = 1000L)
      val got = onAllThreads(pool, threads)(_ => lookup(shared, 42L, wkb))
      assert(got.forall(_ eq got.head) && shared.size == 1)
      // A geometry larger than the whole budget is served but not kept.
      val big = Wkb.write(StarPolygons.star(0, 0, 100, 2000, 0.3, 1.1))
      assert(shared.put(7L, big).covers(0, 0))
      assert(shared.get(7L) == null && shared.retainedVertices == 33)
    } finally pool.shutdown()
  }
}
