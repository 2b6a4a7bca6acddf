package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Relational2, TextOps}

/** The q24 profiler / q25 integrity audit / t36 PMI surface: each is
  * re-derived driver-side from the raw tables and compared exactly —
  * the oracle pins them against DuckDB per round; these specs pin the
  * semantics (not just values) at build time.
  */
class DataQualitySpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private def dir = TestSpark.sfDir

  test("q24 profile: consistent row counts, exact distincts, typed extrema") {
    val s = spark
    import s.implicits._
    val prof = Relational2.columnProfile(s, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(prof.size == 7)
    val li = graft.Tables.lineitem(s, dir)
    val n = li.count()
    assert(prof.values.forall(_.getLong(1) == n),
      "every profile row must see the full table")
    assert(prof.values.forall(_.getLong(2) == 0L),
      "the generator writes no nulls")
    // spot-check one numeric and one string column driver-side
    val qty = li.select($"l_quantity").collect().map(_.getDouble(0))
    assert(prof("l_quantity").getLong(3) == qty.distinct.length)
    assert(prof("l_quantity").getDouble(4) == qty.min)
    assert(prof("l_quantity").getDouble(5) == qty.max)
    val rf = li.select($"l_returnflag").collect().map(_.getString(0))
    assert(prof("l_returnflag").getLong(3) == rf.distinct.length)
    assert(prof("l_returnflag").getString(6) == rf.min)
    assert(prof("l_returnflag").getString(7) == rf.max)
    // string rows carry null numerics and vice versa
    assert(prof("l_returnflag").isNullAt(4) && prof("l_returnflag").isNullAt(5))
    assert(prof("l_quantity").isNullAt(6) && prof("l_quantity").isNullAt(7))
  }

  test("q27 big spenders: threshold, joins, and top-20 order recomputed driver-side") {
    val s = spark
    import s.implicits._
    val got = Relational2.bigSpenders(s, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(got.length == 20)
    // recompute: decimal-exact per-order quantity sums, HAVING > 150
    val qty = new scala.collection.mutable.HashMap[Long, BigDecimal]()
    graft.Tables.lineitem(s, dir).select($"l_orderkey", $"l_quantity").collect()
      .foreach { r =>
        val k = r.getLong(0)
        val d = BigDecimal(r.getDouble(1))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP)
        qty(k) = qty.getOrElse(k, BigDecimal(0)) + d
      }
    val big = qty.filter(_._2 > 150)
    val ords = graft.Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val names = graft.Tables.customer(s, dir)
      .select($"c_custkey", $"c_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = big.toSeq.map { case (ok, q) =>
      val (ck, tp) = ords(ok)
      (ck, names(ck), ok, tp, q.toDouble)
    }.sortBy { case (_, _, ok, tp, _) => (-tp, ok) }.take(20)
    assert(got.toSeq == expected)
    // every returned order really exceeds the cut; orders at or below
    // the cut are excluded by construction of `big`
    assert(got.forall(_._5 > 150.0))
  }

  test("q28 market share: shares sum to 1, percent_rank formula, revenue recomputed") {
    val s = spark
    import s.implicits._
    val got = Relational2.nationMarketShare(s, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.nonEmpty)
    // revenue recomputed decimal-exact driver-side
    val cn = graft.Tables.customer(s, dir)
      .select($"c_custkey", $"c_nationkey").collect()
      .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue)
      .toMap
    val nn = graft.Tables.nation(s, dir)
      .select($"n_nationkey", $"n_name").collect()
      .map(r => r.getAs[Number](0).longValue -> r.getString(1)).toMap
    val rev = new scala.collection.mutable.HashMap[String, BigDecimal]()
    graft.Tables.orders(s, dir).select($"o_custkey", $"o_totalprice").collect()
      .foreach { r =>
        val name = nn(cn(r.getLong(0)))
        val d = BigDecimal(r.getDouble(1))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP)
        rev(name) = rev.getOrElse(name, BigDecimal(0)) + d
      }
    assert(got.map(_._1).toSet == rev.keySet)
    got.foreach { case (name, revenue, _, _, _) =>
      assert(revenue == rev(name).toDouble, s"$name revenue")
    }
    // ordering, share and percent_rank structure
    val n = got.length
    assert(got.map(_._4).toSeq == (1L to n))
    got.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 >= b._2, "descending revenue")
    case _ => }
    assert(math.abs(got.map(_._3).sum - 1.0) < 1e-9, "shares must sum to 1")
    got.foreach { case (_, _, share, rk, pr) =>
      assert(share > 0.0 && share < 1.0)
      assert(pr == (rk - 1).toDouble / (n - 1).toDouble, "percent_rank formula")
    }
  }

  test("q29 small-quantity revenue: exact predicate recomputed driver-side") {
    val s = spark
    import s.implicits._
    val Array(row) = Relational2.smallQuantityRevenue(s, dir).collect()
    val li = graft.Tables.lineitem(s, dir)
      .select($"l_partkey", $"l_quantity", $"l_extendedprice").collect()
      .map(r => (r.getLong(0),
        BigDecimal(r.getDouble(1)).setScale(4, BigDecimal.RoundingMode.HALF_UP),
        BigDecimal(r.getDouble(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP)))
    val byPart = li.groupBy(_._1).map { case (k, xs) =>
      k -> (xs.map(_._2).sum, xs.length)
    }
    val small = li.filter { case (pk, q, _) =>
      val (sq, c) = byPart(pk); q * 5 * c < sq
    }
    assert(row.getLong(0) == small.length.toLong)
    assert(row.getDouble(1) == small.map(_._3).sum.toDouble)
    assert(row.getDouble(2) == row.getDouble(1) / 7.0)
    // the algebraized predicate equals the divided form on exact rationals
    small.foreach { case (pk, q, _) =>
      val (sq, c) = byPart(pk)
      assert(q < sq / (BigDecimal(5) * c))
    }
  }

  test("q30 idle rich customers: threshold, engagement cut, and rollup recomputed") {
    val s = spark
    import s.implicits._
    val got = Relational2.idleRichCustomers(s, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val custs = graft.Tables.customer(s, dir)
      .select($"c_custkey", $"c_acctbal", $"c_nationkey").collect()
      .map(r => (r.getLong(0),
        BigDecimal(r.getDouble(1)).setScale(4, BigDecimal.RoundingMode.HALF_UP),
        r.getAs[Number](2).longValue))
    val pos = custs.filter(_._2 > 0)
    val sumPos = pos.map(_._2).sum; val nPos = pos.length
    val ordCnt = graft.Tables.orders(s, dir).select($"o_custkey").collect()
      .map(_.getLong(0)).groupBy(identity).map { case (k, xs) => k -> xs.length }
    val nn = graft.Tables.nation(s, dir)
      .select($"n_nationkey", $"n_name").collect()
      .map(r => r.getAs[Number](0).longValue -> r.getString(1)).toMap
    val qual = custs.filter { case (ck, bal, _) =>
      ordCnt.getOrElse(ck, 0) < 8 && bal * nPos > sumPos
    }
    val expected = qual.groupBy(c => nn(c._3)).map { case (name, xs) =>
      (name, xs.length.toLong,
        xs.map(c => ordCnt.getOrElse(c._1, 0).toLong).sum,
        xs.map(_._2).sum.toDouble)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == expected)
    // every qualifier beats the positive-balance average in the
    // divided form too (exact rationals agree with the product form)
    qual.foreach { case (_, bal, _) =>
      assert(bal > sumPos / nPos)
    }
  }

  test("q31 Pareto crossing: exact rank recomputed, crossing minimal") {
    val s = spark
    import s.implicits._
    val Array(row) = Relational2.paretoConcentration(s, dir).collect()
    val (head, n, frac, share) =
      (row.getLong(0), row.getLong(1), row.getDouble(2), row.getDouble(3))
    val spend = new scala.collection.mutable.HashMap[Long, BigDecimal]()
    graft.Tables.orders(s, dir).select($"o_custkey", $"o_totalprice").collect()
      .foreach { r =>
        val d = BigDecimal(r.getDouble(1))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP)
        spend(r.getLong(0)) = spend.getOrElse(r.getLong(0), BigDecimal(0)) + d
      }
    val ranked = spend.toSeq.sortBy { case (ck, sd) => (-sd, ck) }
    val total = ranked.map(_._2).sum
    var cum = BigDecimal(0); var rk = 0L; var crossing = 0L
    ranked.foreach { case (_, sd) =>
      cum += sd; rk += 1
      if (crossing == 0L && cum * 100 >= total * 80) crossing = rk
    }
    assert(head == crossing, "crossing rank diverges from recompute")
    assert(n == ranked.length.toLong)
    assert(frac == head.toDouble / n.toDouble)
    // the crossing is MINIMAL: one fewer head customer is below 80 %
    val cumAt = ranked.take(head.toInt).map(_._2).sum
    assert(cumAt * 100 >= total * 80)
    if (head > 1)
      assert(ranked.take(head.toInt - 1).map(_._2).sum * 100 < total * 80)
    assert(share >= 0.8 && share <= 1.0)
    // concentration is real: the head is a strict minority of customers
    assert(frac < 1.0)
  }

  test("q31 over an empty orders table returns an empty frame, not a crash") {
    // the pre-CDF form returned empty via its limit(1)-over-empty
    // window; the range-partitioned rewrite must preserve that instead
    // of throwing on reduce-over-empty pass-1 stats
    val s = spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-q31-empty").toString
    graft.Tables.orders(s, dir).limit(0)
      .write.parquet(s"$tmp/orders.parquet")
    assert(Relational2.paretoConcentration(s, tmp).collect().isEmpty)
  }

  test("q25 integrity audit: every count recomputed driver-side") {
    val s = spark
    import s.implicits._
    val r = Relational2.integrityAudit(s, dir).head()
    val li = graft.Tables.lineitem(s, dir)
    val keys = li.select($"l_orderkey", $"l_linenumber").collect()
      .map(row => (row.getLong(0), row.getInt(1)))
    val mult = keys.groupBy(identity).map(_._2.size)
    assert(r.getLong(0) == keys.length)
    assert(r.getLong(1) == mult.size)
    // The generator REUSES line numbers within an order (the TPC-H
    // linenumber cycles), so the audit legitimately reports dup keys —
    // which is exactly what a validation op exists to surface. Pin the
    // recomputed count rather than assuming cleanliness.
    assert(r.getLong(2) == mult.count(_ > 1).toLong)
    assert(r.getLong(3) == mult.max.toLong)
    val orderKeys = graft.Tables.orders(s, dir)
      .select($"o_orderkey").collect().map(_.getLong(0)).toSet
    val orphans = keys.count(k => !orderKeys.contains(k._1)).toLong
    assert(r.getLong(4) == orphans)
    assert(r.getBoolean(5) == (r.getLong(2) == 0L && orphans == 0L))
  }

  test("q26 rolling revenue: the RANGE frame equals a driver-side trailing-week sum") {
    val s = spark
    import s.implicits._
    val rows = Relational2.rollingRevenue(s, dir).collect()
      .map(r => (r.getDate(0).toLocalDate.toEpochDay,
        r.getDouble(1), r.getDouble(2), r.getLong(3)))
    // recompute in exact DECIMAL from the raw orders (a double-fold
    // recomposition of the emitted doubles would drift): HALF_UP at
    // scale 4 is Spark's double→DECIMAL(18,4) cast, BigDecimal sums
    // are exact, and toDouble is the same correctly-rounded cast the
    // engine applies once at the end.
    val daily = graft.Tables.orders(s, dir)
      .selectExpr("cast(cast(o_orderdate as timestamp) as date) as day",
        "o_totalprice")
      .collect()
      .map(r => (r.getDate(0).toLocalDate.toEpochDay,
        BigDecimal(r.getDouble(1)).setScale(4, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).map { case (d, v) => d -> v.map(_._2).sum }
    assert(rows.length == daily.size)
    rows.foreach { case (d, rev, rev7, n7) =>
      val win = (d - 6 to d).flatMap(daily.get)
      assert(rev == daily(d).toDouble, s"day $d daily revenue")
      assert(rev7 == win.sum.toDouble, s"day $d trailing sum")
      assert(n7 == win.size.toLong, s"day $d trailing day count")
      assert(n7 >= 1L && n7 <= 7L)
    }
  }

  test("t36 PMI: top-20 equals a driver-side recomputation, floor honored") {
    val s = spark
    import s.implicits._
    val docs = graft.Tables.documents(s, dir)
      .select($"text").collect().map(_.getString(0).split("\\s+").toSeq)
    val uni = docs.flatten.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val big = docs.flatMap(t => t.zip(t.tail))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val nBig = docs.map(t => math.max(t.size - 1, 0).toLong).sum
    val expected = big.toSeq.filter(_._2 >= 5L)
      .map { case ((w1, w2), cab) =>
        val ratio = (cab * nBig).toDouble / (uni(w1) * uni(w2)).toDouble
        (s"$w1 $w2", cab, uni(w1), uni(w2), ratio)
      }
      .sortBy { case (bg, _, _, _, ratio) => (-ratio, bg) }
      .take(20)
    val got = TextOps.pmiCollocations(s, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
      .toSeq
    assert(got == expected, "PMI top-20 diverges from the driver recomputation")
    assert(got.forall(_._2 >= 5L), "a hapax-floored pair leaked through")
  }

  test("q36 z-order layout: files recomputed driver-side, z-order out-prunes linear") {
    val s = spark
    import s.implicits._
    val rows = SparkEntry.queries("q36_zorder_layout")(s, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7)))
      .toMap
    val keys = graft.Tables.lineitem(s, dir)
      .select($"l_partkey", $"l_suppkey").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
    val (pkMin, pkMax) = (keys.map(_._1).min, keys.map(_._1).max)
    val (skMin, skMax) = (keys.map(_._2).min, keys.map(_._2).max)
    def norm(v: Long, lo: Long, hi: Long) = (v - lo) * 16 / (hi - lo + 1)
    def z(xp: Long, yp: Long) = (0 until 4).map(i =>
      (((xp >> i) & 1) << (2 * i)) + (((yp >> i) & 1) << (2 * i + 1))).sum
    val assigned = keys.map { case (pk, sk) =>
      val (xp, yp) = (norm(pk, pkMin, pkMax), norm(sk, skMin, skMax))
      (pk, sk, xp, z(xp, yp) / 16)
    }
    val (plo, phi) = (pkMin + (pkMax - pkMin + 1) * 4 / 16,
      pkMin + (pkMax - pkMin + 1) * 8 / 16 - 1)
    val slo = skMin + (skMax - skMin + 1) * 12 / 16
    for ((layout, sel) <- Seq(
        ("linear", (a: (Long, Long, Long, Long)) => a._3),
        ("zorder", (a: (Long, Long, Long, Long)) => a._4))) {
      val byFile = assigned.groupBy(sel)
      // exactly the nonempty files, every stat the true min/max, and
      // prunability follows from the stats and the fixed rectangle
      assert(rows.keys.filter(_._1 == layout).map(_._2).toSet == byFile.keySet)
      byFile.foreach { case (fid, ms) =>
        val (n, mnp, mxp, mns, mxs, pr) = rows((layout, fid))
        assert(n == ms.length.toLong)
        assert(mnp == ms.map(_._1).min && mxp == ms.map(_._1).max)
        assert(mns == ms.map(_._2).min && mxs == ms.map(_._2).max)
        assert(pr == (mxp < plo || mnp > phi || mxs < slo || mns > skMax))
      }
      // conservation: the layout never loses rows
      assert(byFile.values.map(_.length).sum == keys.length)
    }
    def skipped(layout: String) =
      rows.collect { case ((l, _), v) if l == layout && v._6 => 1 }.sum
    // the point of the op: interleaving prunes MORE files for the 2-D
    // predicate than the single-key sort layout
    assert(skipped("zorder") > skipped("linear"),
      s"zorder ${skipped("zorder")} vs linear ${skipped("linear")}")
  }

  test("q38 incremental agg maintenance: merge recomputed driver-side, exact equality certified") {
    val s = spark
    import s.implicits._
    val rows = SparkEntry.queries("q38_incremental_agg")(s, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getBoolean(8)))
      .toMap
    assert(rows.nonEmpty)
    def toDec(v: Double) = BigDecimal(java.math.BigDecimal.valueOf(v)
      .setScale(4, java.math.RoundingMode.HALF_UP))
    val li = graft.Tables.lineitem(s, dir)
      .select($"l_returnflag", $"l_orderkey", $"l_quantity", $"l_extendedprice")
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        toDec(r.getAs[Number](2).doubleValue), toDec(r.getAs[Number](3).doubleValue)))
    val byFlag = li.groupBy(_._1)
    assert(rows.keySet == byFlag.keySet)
    byFlag.foreach { case (flag, g) =>
      val delta = g.filter(_._2 % 10 == 0)
      val (nd, nm, nf, sqm, sqf, spm, spf, ok) = rows(flag)
      assert(nd == delta.length.toLong)
      assert(nm == g.length.toLong && nf == g.length.toLong)
      // base-partial + delta-partial == full, recomputed in exact
      // BigDecimal — and the emitted doubles agree between arms
      val sq = g.map(_._3).sum; val sp = g.map(_._4).sum
      assert(sqm == sq.toDouble && sqf == sq.toDouble, s"$flag qty")
      assert(spm == sp.toDouble && spf == sp.toDouble, s"$flag price")
      assert(ok, s"$flag must certify merge == full")
    }
  }

  test("q37 dominant suppliers: the 2x-fair-share verdict recomputed driver-side") {
    val s = spark
    import s.implicits._
    val rows = SparkEntry.queries("q37_dominant_suppliers")(s, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(rows.nonEmpty)
    val promo = graft.Tables.part(s, dir).filter($"p_type" === "PROMO")
      .select($"p_partkey").as[Long].collect().toSet
    val li = graft.Tables.lineitem(s, dir)
      .select($"l_partkey", $"l_suppkey", $"l_quantity").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        BigDecimal(java.math.BigDecimal.valueOf(r.getAs[Number](2).doubleValue)
          .setScale(4, java.math.RoundingMode.HALF_UP))))
      .filter(t => promo.contains(t._1))
    val ps = li.groupBy(t => (t._1, t._2)).map { case (k, g) => k -> g.map(_._3).sum }
    val tot = ps.groupBy(_._1._1).map { case (p, g) =>
      p -> (g.map(_._2).sum, g.size)
    }
    val dom = ps.filter { case ((p, _), q) =>
      val (t, n) = tot(p); q * n > t * 2
    }.toSeq
    assert(dom.nonEmpty, "fixture must contain concentrated suppliers")
    val supNation = graft.Tables.supplier(s, dir)
      .join(graft.Tables.nation(s, dir), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name").collect()
      .map(r => r.getAs[Number](0).longValue -> r.getString(1)).toMap
    val expected = dom.groupBy { case ((_, sk), _) => supNation(sk) }
      .map { case (nat, g) =>
        nat -> (g.size.toLong, g.map(_._1._2).distinct.size.toLong,
          g.map(_._2).sum.toDouble)
      }
    assert(rows.keySet == expected.keySet)
    expected.foreach { case (nat, (np, nsup, q)) =>
      val (gp, gs, gq) = rows(nat)
      assert(gp == np && gs == nsup, s"$nat counts")
      assert(math.abs(gq - q) < 1e-6, s"$nat qty")
    }
  }

  test("q43 top supplier: decimal revenue view recomputed; the full argmax SET reported") {
    val spark = TestSpark.spark
    import spark.implicits._
    val got = SparkEntry.queries("q43_top_supplier")(spark, TestSpark.sfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val li = spark.read.parquet(TestSpark.sfDir + "/lineitem.parquet")
      .filter($"l_shipdate" >= org.apache.spark.sql.functions.lit("1996-01-01").cast("timestamp") &&
              $"l_shipdate" < org.apache.spark.sql.functions.lit("1996-04-01").cast("timestamp"))
      .selectExpr("l_suppkey", "l_extendedprice", "l_discount")
      .as[(Long, Double, Double)].collect()
    // exact decimal replay: 4-dp price, 3-dp rate — the engine's types
    def d4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    def d3(x: Double) = BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val view = li.groupBy(_._1).map { case (k, g) =>
      k -> g.map(t => d4(t._2) * (BigDecimal(1) - d3(t._3))).sum
    }
    val mx = view.values.max
    val winners = view.filter(_._2 == mx)
    assert(got.keySet == winners.keySet, s"argmax set ${got.keySet} vs ${winners.keySet}")
    got.foreach { case (k, rev) =>
      assert(math.abs(rev - winners(k).toDouble) < 1e-6, s"supp $k revenue")
    }
  }

  test("q42 melt: the long table equals the direct aggregate zero-filled; grid complete") {
    val spark = TestSpark.spark
    import spark.implicits._
    val got = SparkEntry.queries("q42_priority_melt")(spark, TestSpark.sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getBoolean(3)))
      .toMap
    val labels = Map("1-URGENT" -> "urgent", "2-HIGH" -> "high",
      "3-MEDIUM" -> "medium", "4-NOT SPECIFIED" -> "unspecified", "5-LOW" -> "low")
    val orders = spark.read.parquet(TestSpark.sfDir + "/orders.parquet")
      .selectExpr("o_orderstatus", "o_orderpriority")
      .as[(String, String)].collect()
    val direct = orders.groupBy { case (st, pr) => (st, labels(pr)) }
      .map { case (k, g) => k -> g.length.toLong }
    val statuses = orders.map(_._1).distinct
    // the melted grid is the FULL cross product, zero-filled
    val grid = for { st <- statuses; pr <- labels.values.toSeq } yield (st, pr)
    assert(got.keySet == grid.toSet)
    grid.foreach { cell =>
      val (n, m) = got(cell)
      assert(n == direct.getOrElse(cell, 0L), s"$cell count")
      assert(m, s"$cell round-trip mismatch")
    }
  }

  test("q41 FK audit: every edge's orphan count recomputed driver-side") {
    val spark = TestSpark.spark
    val got = SparkEntry.queries("q41_fk_audit")(spark, TestSpark.sfDir)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    def keys(table: String, col: String): Array[Long] =
      spark.read.parquet(s"${TestSpark.sfDir}/$table.parquet")
        .selectExpr(col).collect().map(r => r.getAs[Number](0).longValue())
    val edges = Seq(
      ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
      ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
      ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
    assert(got.keySet == edges.map(_._1).toSet)
    edges.foreach { case (name, ct, ck, pt, pk) =>
      val child = keys(ct, ck)
      val parent = keys(pt, pk).toSet
      val orphans = child.count(k => !parent.contains(k)).toLong
      val (n, o, ok) = got(name)
      assert(n == child.length.toLong, s"$name rows")
      assert(o == orphans && ok == (orphans == 0L), s"$name orphans")
    }
  }

  test("q40 latest orders: argmax recomputed driver-side; verdict all-true by construction") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = SparkEntry.queries("q40_latest_orders")(spark, TestSpark.sfDir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDate(3).toLocalDate, r.getDouble(4), r.getBoolean(5)))
      .toMap
    val o = spark.read.parquet(TestSpark.sfDir + "/orders.parquet")
      .filter($"o_custkey" <= 100)
      .selectExpr("o_custkey", "o_orderkey", "CAST(o_orderdate AS DATE) AS d",
        "o_totalprice")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDate(2).toLocalDate, r.getDouble(3)))
    assert(rows.keySet == o.map(_._1).toSet)
    o.groupBy(_._1).foreach { case (ck, g) =>
      val best = g.maxBy(t => (t._3.toEpochDay, t._2))
      val (n, lk, ld, lp, m) = rows(ck)
      assert(n == g.length.toLong, s"cust $ck count")
      assert(lk == best._2 && ld == best._3 && lp == best._4, s"cust $ck argmax")
      assert(m, s"cust $ck: max_by and window arms must agree")
    }
  }

  test("q39 join estimate: exact size and both estimators recomputed driver-side") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = SparkEntry.queries("q39_join_estimate")(spark, TestSpark.sfDir)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    val od = spark.read.parquet(TestSpark.sfDir + "/orders.parquet")
      .selectExpr("CAST(o_orderdate AS DATE) AS d").as[java.sql.Date].collect()
      .map(_.toLocalDate.toEpochDay).groupBy(identity)
      .map { case (d, g) => d -> g.size.toLong }
    val ld = spark.read.parquet(TestSpark.sfDir + "/lineitem.parquet")
      .selectExpr("CAST(l_shipdate AS DATE) AS d").as[java.sql.Date].collect()
      .map(_.toLocalDate.toEpochDay).groupBy(identity)
      .map { case (d, g) => d -> g.size.toLong }
    val nO = od.values.sum; val nL = ld.values.sum
    assert(r.getLong(0) == nO && r.getLong(1) == nL)
    assert(r.getLong(2) == od.size.toLong && r.getLong(3) == ld.size.toLong)
    // exact join size from the per-date counts — the ground truth the
    // estimators are graded against
    val actual = od.keysIterator.map(d => od(d) * ld.getOrElse(d, 0L)).sum
    assert(r.getLong(4) == actual)
    val naive = (nO * nL).toDouble / math.max(od.size, ld.size).toDouble
    assert(java.lang.Double.doubleToLongBits(r.getDouble(5)) ==
      java.lang.Double.doubleToLongBits(naive))
    // histogram estimate: same buckets, divides folded in bucket order
    val epoch = java.time.LocalDate.parse("1992-01-01").toEpochDay
    def bucketed(m: Map[Long, Long]) = m.toSeq
      .groupBy { case (d, _) => (d - epoch) % 16 }
      .map { case (b, g) => b -> (g.map(_._2).sum, g.size.toLong) }
    val bo = bucketed(od); val bl = bucketed(ld)
    var hist = 0.0
    bo.keySet.intersect(bl.keySet).toSeq.sorted.foreach { b =>
      val (no, ndvo) = bo(b); val (nl, ndvl) = bl(b)
      hist += (no * nl).toDouble / math.max(ndvo, ndvl).toDouble
    }
    assert(java.lang.Double.doubleToLongBits(r.getDouble(6)) ==
      java.lang.Double.doubleToLongBits(hist))
    // the exact arm must sit below the independence estimate here:
    // matched-date mass is thinner than uniform spreading assumes
    assert(actual.toDouble <= naive)
  }

  test("q14/q23 split aggregates keep a NULL-flag group, as one groupBy does") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.expr
    val d = java.nio.file.Files.createTempDirectory("graft-q14-null").toString
    Seq[(Option[String], Double, Double)](
      (Some("A"), 1.0, 10.0), (Some("A"), 3.0, 30.0), (Some("A"), 4.0, 20.0),
      (Some("R"), 2.0, 5.0), (Some("R"), 8.0, 50.0),
      (None, 5.0, 7.0), (None, 6.0, 70.0), (None, 6.0, 9.0))
      .toDF("l_returnflag", "l_quantity", "l_extendedprice")
      .write.parquet(s"$d/lineitem.parquet")
    val li = graft.Tables.lineitem(s, d)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq.sorted
    val single = li.groupBy($"l_returnflag").agg(
      expr("percentile(l_quantity, 0.25D)").as("q25"),
      expr("percentile(l_quantity, 0.5D)").as("median"),
      expr("percentile(l_quantity, 0.75D)").as("q75"),
      expr("percentile(l_extendedprice, 0.9D)").as("price_p90"))
    val q14 = Relational2.quantityPercentiles(s, d)
    assert(q14.columns.toSeq == single.columns.toSeq)
    assert(rows(q14) == rows(single))
    assert(q14.filter($"l_returnflag".isNull).count() == 1)
    val q23 = Relational2.approxPercentileAudit(s, d)
      .select($"l_returnflag", $"exact_med_qty", $"exact_p90_price")
    assert(rows(q23) == rows(single.select($"l_returnflag", $"median", $"price_p90")))
  }
}
