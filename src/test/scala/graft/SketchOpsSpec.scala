package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.functions.HashFunctions.{k_min_distinct, misra_gries}
import graft.ops.KCore
import graft.text.Winnowing

/** Pins for the round-7 sketch/graph/text additions: KMV exactness and
  * mergeability, Misra–Gries guarantees under arbitrary partitioning,
  * k-core peeling on a known graph, containment-join asymmetry, and the
  * winnowing shared-substring guarantee. */
class SketchOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ------------------------------------------------- KMinDistinctLongs
  test("KMV sketch equals the exact k smallest distinct values") {
    val vals = (1 to 5000).map(i => (i.toLong * 7919) % 104729) // dups included
    val expected = vals.distinct.sorted.take(64)
    val got = vals.toDF("v").repartition(13)
      .agg(k_min_distinct(col("v"), 64).as("kmv"))
      .as[Seq[Long]].head()
    assert(got == expected)
  }

  test("KMV merges: re-sketching per-group sketches equals the direct sketch") {
    val df = (1 to 4000).map(i => (i % 7, (i.toLong * 6271) % 15013)).toDF("g", "v")
    val direct = df.agg(k_min_distinct(col("v"), 32).as("s")).as[Seq[Long]].head()
    val merged = df.groupBy("g").agg(k_min_distinct(col("v"), 32).as("s"))
      .select(explode(col("s")).as("v"))
      .agg(k_min_distinct(col("v"), 32).as("s")).as[Seq[Long]].head()
    assert(direct == merged)
  }

  test("KMV returns all distinct values ascending when |distinct| < k") {
    val got = Seq(5L, 3L, 5L, 9L, 3L).toDF("v")
      .agg(k_min_distinct(col("v"), 100).as("s")).as[Seq[Long]].head()
    assert(got == Seq(3L, 5L, 9L))
  }

  test("property: the KMV buffer keeps the k smallest distinct values under any split and merge order") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.LongType
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.functions.KMinDistinctLongs

    // narrow value ranges force duplicates and fewer than k distinct
    // values; the full range covers both signs and the extremes
    val value = (range: Long) => Gen.frequency(
      12 -> Gen.choose(-range, range).map(Option(_)),
      1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L).map(Option(_)),
      1 -> Gen.const(Option.empty[Long]))
    val gen = for {
      k <- Gen.oneOf(Gen.const(1), Gen.choose(2, 8), Gen.choose(9, 64))
      range <- Gen.oneOf(3L, 40L, 1000L, Long.MaxValue)
      n <- Gen.choose(0, 300)
      vals <- Gen.listOfN(n, value(range))
      cuts <- Gen.listOfN(5, Gen.choose(0, n))
      mergeSeed <- Gen.long
    } yield (k, vals, cuts.sorted, mergeSeed)

    (1 to 300).foreach { i =>
      gen(Gen.Parameters.default, Seed(i.toLong)).foreach {
        case (k, vals, cuts, mergeSeed) =>
          val agg = KMinDistinctLongs(BoundReference(0, LongType, nullable = true), k)
          // random split: one partial per slice between the cut points
          val bounds = (0 +: cuts :+ vals.size).sliding(2).toSeq
          val partials = scala.collection.mutable.ArrayBuffer(bounds.map {
            case Seq(lo, hi) =>
              vals.slice(lo, hi).foldLeft(agg.createAggregationBuffer()) {
                (b, v) => agg.update(b, InternalRow(v.map(Long.box).orNull))
              }
          }: _*)
          // random merge tree; every other merge ships a serialized partial
          val rnd = new scala.util.Random(mergeSeed)
          var shipped = false
          while (partials.size > 1) {
            val a = partials.remove(rnd.nextInt(partials.size))
            val b0 = partials.remove(rnd.nextInt(partials.size))
            shipped = !shipped
            val b = if (shipped) agg.deserialize(agg.serialize(b0)) else b0
            partials += agg.merge(a, b)
          }
          val got = agg.eval(partials.head).asInstanceOf[ArrayData]
            .toLongArray().toSeq
          val expected = vals.flatten.distinct.sorted.take(k)
          assert(got == expected, s"seed $i, k $k: $got != $expected")
      }
    }
  }

  // ---------------------------------------------------- CountMinLongs
  test("count-min sketch is partitioning-invariant and replays the cell formula") {
    import graft.functions.CountMinLongs
    import graft.functions.HashFunctions.count_min_longs
    val (depth, width, seed) = (3, 64, 7)
    val vals = (1 to 3000).map(i => (i.toLong * 2654435761L) % 97) // heavy dups
    def sketch(parts: Int): Seq[Long] =
      vals.toDF("v").repartition(parts)
        .agg(count_min_longs(col("v"), depth, width, seed).as("s"))
        .as[Seq[Long]].head()
    val s1 = sketch(1)
    // merge is elementwise addition — the sketch is EXACTLY invariant
    // under partitioning, not just guarantee-invariant like MG
    assert(s1 == sketch(4) && s1 == sketch(17))
    // every cell equals the count of values hashing there (the oracle's
    // replay contract), and every point estimate >= the true frequency
    val params = CountMinLongs.hashParams(seed, depth)
    val exact = vals.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val wantCells = Array.fill(depth * width)(0L)
    vals.foreach { v =>
      params.zipWithIndex.foreach { case ((a, b), d) =>
        wantCells(d * width + CountMinLongs.bucket(v, a, b, width)) += 1
      }
    }
    assert(s1 == wantCells.toSeq)
    exact.foreach { case (v, n) =>
      val est = params.zipWithIndex.map { case ((a, b), d) =>
        s1(d * width + CountMinLongs.bucket(v, a, b, width))
      }.min
      assert(est >= n, s"CMS under-counted $v: est=$est exact=$n")
    }
  }

  test("count-min sketch is SQL-registered (count_min_longs via GraftExtensions)") {
    graft.functions.GraftFunctions.register(spark)
    val got = spark.sql(
      "SELECT count_min_longs(v, 2, 8, 1) AS s FROM VALUES (1L), (1L), (9L) t(v)")
      .as[Seq[Long]].head()
    import graft.functions.CountMinLongs
    assert(got.length == 16 && got.sum == 6) // 3 rows × 2 depth increments
    val params = CountMinLongs.hashParams(1, 2)
    val est1 = params.zipWithIndex.map { case ((a, b), d) =>
      got(d * 8 + CountMinLongs.bucket(1L, a, b, 8)) }.min
    assert(est1 >= 2)
    // out-of-Int-range Long literals are REJECTED, not truncated
    // (4294967297.toInt would silently become width 1)
    val e = intercept[Exception] {
      spark.sql(
        "SELECT count_min_longs(v, 2, 4294967297, 1) FROM VALUES (1L) t(v)")
        .collect()
    }
    assert(e.getMessage.contains("out of Int range") ||
      Option(e.getCause).exists(_.getMessage.contains("out of Int range")),
      s"expected out-of-range rejection, got: $e")
  }

  test("KMV set algebra: union/Jaccard/intersection identities hold on the fixture") {
    val r = SparkEntry.queries("q238_kmv_set_ops")(
      spark, "/root/testdata/sf0.001").head()
    def f(n: String): Long = r.getAs[Long](n)
    val k = 128L
    // k-min-of-union identity: |U| = min(k, |A ∪ B|)
    assert(f("usz") == math.min(k, f("exact_union")))
    assert(f("uin") <= f("usz") && f("exact_inter") <= math.min(f("exact_a"), f("exact_b")))
    assert(f("est_inter") <= f("est_union"))
    assert(f("jaccard_micro") >= 0L && f("jaccard_micro") <= 1000000L)
    if (f("exact_union") < k) {
      // sketch IS the set: everything exact
      assert(f("est_union") == f("exact_union") && f("uin") == f("exact_inter")
        && f("est_inter") == f("exact_inter"))
    } else {
      // estimator within ~4σ of 1/√k ≈ 8.8% relative error
      assert(math.abs(f("est_union") - f("exact_union")).toDouble
        <= 0.35 * f("exact_union"),
        s"union estimate ${f("est_union")} vs exact ${f("exact_union")}")
    }
  }

  // ------------------------------------------------- MisraGriesStrings
  test("Misra–Gries is exact when distinct keys fit the summary") {
    val words = Seq.fill(40)("alpha") ++ Seq.fill(25)("beta") ++ Seq.fill(9)("gamma")
    val got = words.toDF("w").repartition(5)
      .agg(misra_gries(col("w"), 8).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item"), col("e.est")).as[(String, Long)]
      .collect().toMap
    assert(got == Map("alpha" -> 40L, "beta" -> 25L, "gamma" -> 9L))
  }

  test("Misra–Gries guarantees hold under different partitionings") {
    // Zipf-ish stream: key i repeated (2000 / i) times, m = 8
    val words = (1 to 200).flatMap(i => Seq.fill(2000 / i)(s"w$i"))
    val n = words.length.toLong
    val m = 8
    val exact = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (parts <- Seq(1, 4, 17)) {
      val sk = words.toDF("w").repartition(parts)
        .agg(misra_gries(col("w"), m).as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.item"), col("e.est")).as[(String, Long)]
        .collect().toMap
      assert(sk.size <= m, s"summary exceeded m at parts=$parts")
      exact.foreach { case (wd, f) =>
        if (f * (m + 1) > n)
          assert(sk.contains(wd), s"heavy $wd (f=$f) lost at parts=$parts")
        sk.get(wd).foreach { est =>
          assert(est <= f, s"overestimate for $wd at parts=$parts: $est > $f")
          assert((f - est) * (m + 1) <= n,
            s"residual bound broken for $wd at parts=$parts: f=$f est=$est")
        }
      }
    }
  }

  // ----------------------------------------------------------- k-core
  test("SCC: cycle, 2-cycle, tail and detached nodes resolve to known components") {
    // 3-cycle {10,11,12} with an acyclic tail 12→20→21, a detached
    // pair 30→31, and a 2-cycle {40,41}
    val edges = Seq((10L, 11L), (11L, 12L), (12L, 10L), (12L, 20L),
      (20L, 21L), (30L, 31L), (40L, 41L), (41L, 40L)).toDF("a", "b")
    val got = graft.ops.Scc.components(edges, "a", "b", rounds = 4, phases = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    // multi-node SCCs labeled by their min member, found in phase 1
    assert(got(10L) == (10L, 1) && got(11L) == (10L, 1) && got(12L) == (10L, 1))
    assert(got(40L) == (40L, 1) && got(41L) == (40L, 1))
    // tail/detached singletons: each phase peels the pivot its color
    // class exposes (20 shadowed by the cycle's 10 in phase 1; 21
    // shadowed by 20 in phase 2)
    assert(got(30L) == (30L, 1) && got(31L) == (31L, 2))
    assert(got(20L) == (20L, 2) && got(21L) == (21L, 3))
    assert(got.size == 9)
  }

  test("SCC: two directed cycle orientations stay separate components") {
    // a→b edges only: 1→2→3→1 and 5→6→7 (no back edge) — the path is
    // NOT strongly connected even though weakly connected
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (5L, 6L), (6L, 7L))
      .toDF("a", "b")
    val comp = graft.ops.Scc.components(edges, "a", "b", rounds = 4, phases = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L)
    assert(Set(comp(5L), comp(6L), comp(7L)) == Set(5L, 6L, 7L),
      "an acyclic chain must stay three singleton SCCs")
  }

  test("k-core peel keeps the clique and drops the tendril") {
    // 4-clique {1,2,3,4} with a pendant chain 4–5–6
    val base = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val edges = base.union(base.select(col("b").as("a"), col("a").as("b")))
    val got = KCore.peel(edges, "a", "b", k = 3, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"3-core should be exactly the clique at degree 3, got $got")
  }

  test("k-core peeling is monotone in rounds and stable at fixpoint") {
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val edges = base.union(base.select(col("b").as("a"), col("a").as("b")))
    val r1 = KCore.peel(edges, "a", "b", k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    val r3 = KCore.peel(edges, "a", "b", k = 2, rounds = 3)
      .as[(Long, Long)].collect().toMap
    val r4 = KCore.peel(edges, "a", "b", k = 2, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(r3.keySet.subsetOf(r1.keySet), "peeling grew the graph")
    assert(r3 == r4, "not stable at fixpoint")
    assert(r3 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"2-core wrong: $r3")
  }

  // ------------------------------------------------- containment join
  test("containment join finds snippet-in-doc pairs Jaccard misses") {
    val snippet = "the quick brown fox jumps over the lazy dog today"
    val long = snippet + " " + (1 to 40).map(i => s"filler$i word$i extra$i").mkString(" ")
    val docs = Seq((1L, snippet), (2L, long),
      (3L, "completely different content about spark engines and parquet files"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", thresholdTenths = 8)
      .select("src", "dst", "cont_micro")
      .as[(Long, Long, Long)].collect().toSet
    // snippet (1) fully contained in long (2): containment = 1.0
    assert(got.contains((1L, 2L, 1000000L)), s"missed snippet-in-doc: $got")
    // reverse direction fails the 0.8 gate; unrelated doc absent entirely
    assert(!got.exists(p => p._1 == 2L || p._1 == 3L || p._2 == 3L), s"$got")
    // and symmetric Jaccard over the same shingles stays below 0.3:
    // |∩| = |snippet| shingles, union dominated by the long doc
    val j = Dedup.prefixFilterPairs(docs, "doc_id", "text", thresholdTenths = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(!j.exists(p => Set(p._1, p._2) == Set(1L, 2L)),
      s"Jaccard unexpectedly caught the asymmetric pair: $j")
  }

  test("containment pairs match a brute-force check on random docs") {
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 30).map(i => s"tok$i")
    val docs = (1L to 12L).map { i =>
      (i, (1 to 20).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    def shingleSet(s: String): Set[String] =
      s.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    val brute = for {
      (a, ta) <- docs; (b, tb) <- docs if a != b
      sa = shingleSet(ta); sb = shingleSet(tb)
      i = (sa intersect sb).size
      if sa.nonEmpty && 10 * i >= 5 * sa.size
    } yield (a, b, 1000000L * i / sa.size)
    val got = Dedup.containmentPairs(df, "doc_id", "text", thresholdTenths = 5)
      .select("src", "dst", "cont_micro")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == brute.toSet)
  }

  // --------------------------------------------------------- winnowing
  test("winnowing guarantees a shared fingerprint for substring matches >= w+k-1") {
    // two docs sharing an 11-char substring (>= 4+5-1 = 8 chars)
    val shared = "xqzvbnmkljh"
    val docs = Seq(
      (1L, "aaaa" + shared + "pppppppp"),
      (2L, "zzzzzzzzzz" + shared + "rrrr")).toDF("doc_id", "text")
    val fp = Winnowing.fingerprints(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect()
    val h1 = fp.filter(_._1 == 1L).map(_._2).toSet
    val h2 = fp.filter(_._1 == 2L).map(_._2).toSet
    assert((h1 intersect h2).nonEmpty,
      s"no shared fingerprint despite an ${shared.length}-char match")
  }

  test("winnowing density and window-coverage invariants") {
    val text = (1 to 50).map(i => ('a' + (i * 17) % 26).toChar).mkString * 4
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val fp = Winnowing.fingerprints(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().sortBy(_._3)
    val nPos = text.length - 4 // k-gram positions
    assert(fp.nonEmpty && fp.length <= nPos)
    // selections are k-gram positions in range
    assert(fp.forall(p => p._3 >= 1 && p._3 <= nPos))
    // coverage: consecutive selected positions are < w apart (every
    // window selects something within it)
    val gaps = fp.map(_._3).sliding(2)
      .collect { case Array(x, y) => y - x }.toSeq
    assert(gaps.nonEmpty && gaps.forall(_ <= 4), s"coverage gaps: $gaps")
  }

  // ------------------------------------------------------------ truss
  test("k-truss peels by edge support with cascade across rounds") {
    // two triangles sharing edge (1,2), plus pendant edge (4,5)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L),
      (4L, 5L)).toDF("a", "b")
    // support 1, 2 rounds: round 1 drops only the pendant; stable after
    val s1 = graft.ops.Truss.peel(edges, "a", "b", minSupport = 1, rounds = 2)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(s1 == Set((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L)))
    // support 2: round 1 keeps only (1,2) (in both triangles), but with
    // its triangle mates peeled its own support collapses — round 2
    // empties the graph: the edge-cascade a node-degree core can't see
    val s2r1 = graft.ops.Truss.peel(edges, "a", "b", minSupport = 2, rounds = 1)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(s2r1 == Set((1L, 2L)))
    val s2r2 = graft.ops.Truss.peel(edges, "a", "b", minSupport = 2, rounds = 2)
    assert(s2r2.isEmpty)
  }

  // ---------------------------------------------------- phrase search
  test("phrase search agrees with a direct substring scan of the corpus") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q223_phrase_search")(spark, dir)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val docs = graft.tables.Tables.documents(spark, dir)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .as[(Long, String)].collect()
    docs.foreach { case (id, t) =>
      val toks = t.trim.split("\\s+")
      val hits = toks.indices.dropRight(1)
        .filter(i => toks(i) == "table" && toks(i + 1) == "scan")
      if (hits.nonEmpty) {
        assert(got.contains(id), s"doc $id with phrase missing from result")
        assert(got(id) == ((hits.size.toLong, hits.head + 1L)),
          s"doc $id: got ${got(id)}, expected (${hits.size}, ${hits.head + 1})")
      } else assert(!got.contains(id), s"doc $id false positive")
    }
  }

  // ------------------------------------------------------ MAD outliers
  test("CUSUM: closed-form window equals the textbook recursion; injected shift alarms, stable series doesn't") {
    // 40 ticks at 1000¢, then a +100¢ mean shift for 20 ticks
    val series = (1 to 40).map(i => (1L, i.toLong, 1000L)) ++
      (41 to 60).map(i => (1L, i.toLong, 1100L)) ++
      (1 to 60).map(i => (2L, i.toLong, 1000L)) // flat control series
    val df = graft.queries.FinanceQueries.cusumSums(
      series.toDF("user_id", "event_id", "cents"), kAllow = 25L)
      .select("user_id", "event_id", "cents", "n", "su", "sd")
      .collect().sortBy(r => (r.getLong(0), r.getLong(1)))
    // 1. the window closed form IS the recursion S_i = max(0, S_{i-1} + d_i)
    for (uid <- Seq(1L, 2L)) {
      val rows = df.filter(_.getLong(0) == uid)
      val n = rows.length.toLong
      val sx = rows.map(_.getLong(2)).sum
      var su = 0L
      var sd = 0L
      rows.foreach { r =>
        val x = r.getLong(2)
        su = math.max(0L, su + (n * x - sx - n * 25L))
        sd = math.max(0L, sd + (sx - n * x - n * 25L))
        assert(r.getLong(4) == su && r.getLong(5) == sd,
          s"closed form diverged from recursion at uid=$uid ev=${r.getLong(1)}")
      }
    }
    // 2. the shifted series alarms UP after the shift, never before
    val h = 400L
    val shifted = df.filter(_.getLong(0) == 1L)
    val alarms = shifted.filter(r => r.getLong(4) > r.getLong(3) * h)
      .map(_.getLong(1))
    assert(alarms.nonEmpty, "mean shift went undetected")
    assert(alarms.min > 40L, s"false alarm before the shift at ${alarms.min}")
    // 3. the flat series never alarms in either direction
    val flat = df.filter(_.getLong(0) == 2L)
    assert(flat.forall(r => r.getLong(4) <= r.getLong(3) * h &&
      r.getLong(5) <= r.getLong(3) * h), "flat series alarmed")
  }

  test("MAD outlier screen matches a driver-side recomputation") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q226_mad_outliers")(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    val cents = graft.tables.Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("pc"))
      .as[(String, Long)].collect().groupBy(_._1)
    def lowerMedian(xs: Seq[Long]): Long = xs.sorted.apply((xs.size - 1) / 2)
    cents.foreach { case (g, rows) =>
      val pcs = rows.map(_._2).toSeq
      val med = lowerMedian(pcs)
      val devs = pcs.map(x => math.abs(x - med))
      val mad = lowerMedian(devs)
      val out = devs.count(_ > 5 * mad).toLong
      assert(got(g) == ((pcs.size.toLong, med, mad, out)),
        s"group $g: got ${got(g)}, expected (${pcs.size}, $med, $mad, $out)")
    }
  }

  // ------------------------------------------------ TF-IDF cosine rerank
  test("TF-IDF rerank scores are valid cosines and crush stopword-only overlap") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q225_tfidf_cosine_rerank")(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, dot, cos) =>
      assert(a < b && dot >= 0 && cos >= 0 && cos <= 1000000,
        s"invalid row ($a,$b,$dot,$cos)")
    }
  }

  // ------------------------------------- seasonal decomposition / lead-lag
  test("seasonal decomposition: residuals cancel within each weekday group") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q227_seasonal_decomposition")(spark, dir)
      .select("event_type", "wd", "resid_sc", "dev7", "sn", "ssum7")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // Σ resid_sc over a (type, weekday) group = sn·ssum7 − sn·ssum7 = 0
    rows.groupBy(r => (r._1, r._2)).foreach { case (g, rs) =>
      assert(rs.map(_._3).sum == 0L, s"residuals don't cancel in $g")
      // group bookkeeping: sn = group size, ssum7 = Σ dev7
      assert(rs.head._5 == rs.size.toLong && rs.head._6 == rs.map(_._4).sum)
    }
  }

  test("lead-lag correlation matches a driver-side Pearson at lag 0") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q228_lead_lag_correlation")(spark, dir)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet == Set(-2L, -1L, 0L, 1L, 2L))
    got.values.foreach { case (n, r) =>
      assert(n > 0 && math.abs(r) <= 1000000L)
    }
    val daily = graft.tables.Tables.events(spark, dir)
      .select(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("event_type", "day").agg(sum("c").as("v"))
      .as[(String, java.sql.Date, Long)].collect()
    val x = daily.filter(_._1 == "click").map(r => r._2.toString -> r._3).toMap
    val y = daily.filter(_._1 == "purchase").map(r => r._2.toString -> r._3).toMap
    val paired = x.keySet.intersect(y.keySet).toSeq.map(d => (x(d), y(d)))
    val n = paired.size.toLong
    val (sx, sy) = (paired.map(_._1).sum, paired.map(_._2).sum)
    val sxy = paired.map(p => p._1 * p._2).sum
    val sxx = paired.map(p => p._1 * p._1).sum
    val syy = paired.map(p => p._2 * p._2).sum
    val r0 = math.round((n * sxy - sx * sy).toDouble * 1e6 /
      (math.sqrt((n * sxx - sx * sx).toDouble) *
        math.sqrt((n * syy - sy * sy).toDouble)))
    assert(got(0L) == ((n, r0)), s"lag-0: got ${got(0L)}, expected ($n, $r0)")
  }

  // ------------------------------------- streaming sketch state (q229 family)
  test("streaming MG sketch: state merges across micro-batches, guarantees hold under eviction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val agg = input.toDF().select(lit(1).as("g"), col("value").as("w"))
      .groupBy("g")
      .agg(misra_gries(col("w"), 4).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item"), col("e.est"))
    val name = "mg_stream_" + System.nanoTime()
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName(name).start()
    try {
      // vocab (10) > m (4): eviction fires; "hot" is 60% of the stream,
      // split across three micro-batches so the state-store buffer must
      // deserialize + merge between batches
      val batch = Seq.fill(30)("hot") ++ (1 to 20).map(i => s"w${i % 10}")
      (1 to 3).foreach { _ => input.addData(batch: _*); q.processAllAvailable() }
      val sk = spark.table(name).as[(String, Long)].collect().toMap
      val n = 150L // 3 batches x 50 rows
      assert(sk.size <= 4, s"summary exceeded m: $sk")
      assert(sk.contains("hot"), s"heavy item lost across batches: $sk")
      assert(sk("hot") <= 90L && (90L - sk("hot")) * 5 <= n,
        s"MG bounds broken for hot: est=${sk("hot")}, n=$n")
    } finally q.stop()
  }

  // ------------------------------------------- BPE encode consistency
  test("BPE encode totals equal the train loop's final symbol count") {
    val dir = "/root/testdata/sf0.001"
    val train = SparkEntry.queries("q213_bpe_train_loop")(spark, dir)
      .select("merge_round", "total_symbols_after")
      .as[(Int, Long)].collect().toMap
    val encoded = SparkEntry.queries("q220_bpe_encode")(spark, dir)
      .agg(sum("n_tokens")).as[Long].head()
    assert(encoded == train(3),
      s"per-doc encode sum $encoded != corpus total after round 3 ${train(3)}")
  }
}
