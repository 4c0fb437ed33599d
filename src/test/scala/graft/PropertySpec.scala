package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.config.ColumnSpec
import graft.etl.{Etl, Skew}
import graft.text.Text

/** Property-based invariants over generated inputs — the contracts every
  * operator must hold regardless of data shape.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic scalacheck sampling (scalatestplus bridge is not in
    * the offline cache): n samples from fixed seeds.
    */
  private def forAll[A](g: Gen[A], n: Int = 10)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }

  private def whenever(cond: Boolean)(body: => Unit): Unit =
    if (cond) body

  private val rowsGen = Gen.listOfN(30,
    Gen.zip(Gen.chooseNum(0L, 8L), Gen.chooseNum(-100.0, 100.0),
      Gen.oneOf("a", "b", "c")))

  test("parseWav ∘ wavFixture is identity on (rate, frames, mean) for ARBITRARY bytes") {
    // the WAV gate's oracle needs ASCII text, but the PARSER must hold
    // for any payload a real corpus could carry — full-range bytes
    // (0–255), empty, odd lengths (pad-byte path), and all three junk-
    // chunk layouts (id mod 3) × all rates (id mod 8)
    import graft.multimodal.Multimodal
    val gen = Gen.zip(Gen.chooseNum(0L, 1000L),
      Gen.chooseNum(0, 97).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte))))
    forAll(gen, n = 60) { case (id, byteList) =>
      val bytes = byteList.toArray
      val (ok, af, ch, rate, bits, frames, mean) =
        Multimodal.parseWav(Multimodal.wavFixture(id, bytes))
      assert(ok && af == 1 && ch == 1 && bits == 8)
      assert(rate == 8000 + (id % 8).toInt * 1000)
      assert(frames == bytes.length)
      val want = if (bytes.isEmpty) 0.0
        else bytes.map(_ & 0xff).sum.toDouble / bytes.length
      assert(mean == want, s"id=$id n=${bytes.length}")
    }
  }

  test("parseBmp ∘ bmpFixture is identity on (w, h, mean, first) for ARBITRARY bytes") {
    // full-range payloads across both row orders (id mod 2), all gap
    // rotations (id mod 3), all widths (id mod 8) — incl. empty (the
    // all-zero w×1 image) and payloads that don't fill the last row
    import graft.multimodal.Multimodal
    val gen = Gen.zip(Gen.chooseNum(0L, 1000L),
      Gen.chooseNum(0, 97).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte))))
    forAll(gen, n = 60) { case (id, byteList) =>
      val bytes = byteList.toArray
      val (ok, w, h, bpp, nPx, mean, first) =
        Multimodal.parseBmp(Multimodal.bmpFixture(id, bytes))
      val wantW = 1 + (id % 8).toInt
      val wantH = math.max(1, (bytes.length + wantW - 1) / wantW)
      assert(ok && bpp == 8 && w == wantW && h == wantH && nPx == wantW * wantH)
      val wantMean = bytes.map(_ & 0xff).sum.toDouble / (wantW * wantH)
      assert(mean == wantMean, s"id=$id n=${bytes.length}")
      assert(first == (if (bytes.isEmpty) 0 else bytes.head & 0xff))
    }
  }

  test("parseWav/parseBmp NEVER throw on arbitrary byte garbage — verdict or parse") {
    // beyond the targeted malformed cases: a decoder facing 100 TB of
    // crawl bytes sees every possible prefix/corruption; any input must
    // produce a verdict, never an exception. Seed some inputs with the
    // real magics so the walk past the header is exercised, not just
    // the magic check.
    import graft.multimodal.Multimodal
    val raw = Gen.chooseNum(0, 200).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)))
    val seeded = for {
      bytes <- raw
      magic <- Gen.oneOf("RIFF", "BM", "RIFFxxxxWAVE", "")
    } yield magic.getBytes ++ bytes.toArray
    forAll(seeded, n = 120) { bytes =>
      Multimodal.parseWav(bytes): Unit
      Multimodal.parseBmp(bytes): Unit
    }
  }

  test("binned intervalJoin equals the naive O(n^2) range join") {
    import graft.analytics.Queries
    val binned = Queries.intervalJoin(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e = Tables(spark, sfDir, "events")
      .select(col("event_id"), expr("unix_micros(ts) div 1000").as("ms"))
    val naive = e.alias("a").join(e.alias("b"),
        abs(col("b.ms") - col("a.ms")) <= 60000L &&
          col("a.event_id") =!= col("b.event_id"))
      .groupBy(col("a.event_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(binned == naive)
    assert(binned.nonEmpty)
  }

  test("asofJoin equals the naive greatest-match-per-row formulation") {
    import graft.analytics.Queries
    val viaWindow = Queries.asofJoin(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e = Tables(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(ts) div 1000").as("ms"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ms"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ms").as("cms"))
    val naive = p.join(c, col("user_id") === col("cu") && col("cms") <= col("ms"))
      .groupBy(col("event_id"), col("ms"))
      .agg(max(col("cms")).as("best"))
      .select(col("event_id"), (col("ms") - col("best")).as("gap"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaWindow == naive)
    assert(viaWindow.nonEmpty)
  }

  test("generic Joins.asof reproduces the events as-of query") {
    import graft.analytics.{Joins, Queries}
    val e = Tables(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(ts) div 1000").as("ms"))
    val probe = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ms"))
    val build = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ms"))
    val generic = Joins.asof(probe, build, "user_id", "ms")
      .filter(col("asof_ms").isNotNull)
      .select(col("event_id"), (col("ms") - col("asof_ms")).as("gap"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reference = Queries.asofJoin(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(generic == reference)
  }

  test("fused as-of operator equals the window form on events (all rows)") {
    import graft.analytics.Joins
    val e = Tables(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(ts) div 1000").as("ms"))
    val probe = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ms"))
    val build = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ms"), col("event_id").as("click_id"))
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("event_id", "asof_ms", "asof_click_id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2))).toSet
    val window = key(Joins.asof(probe, build, "user_id", "ms",
      buildCols = Seq("click_id")))
    val fused = key(Joins.asofFused(probe, build, "user_id", "ms",
      buildCols = Seq("click_id")))
    assert(fused == window)
    assert(fused.nonEmpty && fused.exists(_._2 == null)) // no-match rows exercised
  }

  test("fused as-of: exact-ts tie visible, latest-of-several wins, self-asof ids disambiguated") {
    import graft.analytics.Joins
    import spark.implicits._
    val probe = Seq((1L, 100L, "p1"), (1L, 50L, "p2"), (2L, 10L, "p3"))
      .toDF("k", "ms", "tag")
    val build = Seq((1L, 100L, "exact"), (1L, 99L, "older"), (1L, 40L, "old"),
      (3L, 5L, "other_key")).toDF("k", "ms", "v")
    val out = Joins.asofFused(probe, build, "k", "ms", buildCols = Seq("v"))
      .select("tag", "asof_ms", "asof_v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null
        else (r.getLong(1), r.getString(2)))).toMap
    assert(out("p1") == ((100L, "exact"))) // >= semantics: equal ts visible
    assert(out("p2") == ((40L, "old")))    // latest at-or-before 50
    assert(out("p3") == null)              // key with no build rows
    // self-asof: probe and build carved from the SAME df (exprId clash path)
    val base = Seq((1L, 10L, 0), (1L, 20L, 1), (1L, 30L, 0)).toDF("k", "ms", "b")
    val self = Joins.asofFused(
      base.filter($"b" === 0).select("k", "ms"),
      base.filter($"b" === 1).select("k", "ms"), "k", "ms")
      .select("ms", "asof_ms").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    assert(self == Map(10L -> null, 30L -> 20L))
  }

  test("fused as-of survives aggressive AQE partition coalescing (co-partitioned zip)") {
    import graft.analytics.Joins
    // zipPartitions requires BOTH shuffled children to end with the
    // same partition count — AQE's CoalesceShufflePartitions must
    // treat the two sides as one coalesce group. Force it to actually
    // fire: many initial partitions, tiny advisory size.
    val conf = spark.conf
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val prev = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "64")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
      val e = Tables(spark, sfDir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("unix_micros(ts) div 1000").as("ms"))
      val probe = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ms"))
      val build = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ms"))
      val fused = Joins.asofFused(probe, build, "user_id", "ms")
        .select("event_id", "asof_ms").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getLong(1))).toMap
      val window = Joins.asof(probe, build, "user_id", "ms")
        .select("event_id", "asof_ms").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getLong(1))).toMap
      assert(fused.nonEmpty && fused == window)
    } finally prev.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("as-of carry is row-atomic: matched build row's NULL payload stays NULL in both forms") {
    import graft.analytics.Joins
    import spark.implicits._
    // build rows: older one HAS a payload, newest (the match) has NULL —
    // a per-column ignoreNulls carry would back-fill 'a' from ts=5;
    // the row-atomic contract (DuckDB ASOF) keeps the matched row's NULL
    val probe = Seq((1L, 20L)).toDF("k", "ms")
    val build = Seq((1L, 5L, Some("a")), (1L, 10L, None))
      .toDF("k", "ms", "v")
    def run(f: => org.apache.spark.sql.DataFrame) = f
      .select("asof_ms", "asof_v").collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).head
    val win = run(Joins.asof(probe, build, "k", "ms", buildCols = Seq("v")))
    val fus = run(Joins.asofFused(probe, build, "k", "ms", buildCols = Seq("v")))
    assert(win == ((10L, null)) && fus == ((10L, null)))
  }

  test("fused as-of with composite key matches per-key-pair expectations") {
    import graft.analytics.Joins
    import spark.implicits._
    val probe = Seq((1L, "a", 100L, "p1"), (1L, "b", 100L, "p2"),
      (2L, "a", 100L, "p3")).toDF("k1", "k2", "ms", "tag")
    val build = Seq((1L, "a", 90L, "va"), (1L, "b", 95L, "vb"),
      (2L, "b", 80L, "wrong_pair")).toDF("k1", "k2", "ms", "v")
    val out = Joins.asofFusedKeys(probe, build, Seq("k1", "k2"), "ms",
        buildCols = Seq("v"))
      .select("tag", "asof_v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
    // (1,a) and (1,b) match only their own composite pair; (2,a) finds
    // nothing even though k1=2 exists with a different k2
    assert(out == Map("p1" -> "va", "p2" -> "vb", "p3" -> null))
  }

  test("generic Joins.interval reproduces the events interval query") {
    import graft.analytics.{Joins, Queries}
    val e = Tables(spark, sfDir, "events")
      .select(col("event_id"), expr("unix_micros(ts) div 1000").as("ms"))
    val generic = Joins.interval(
        e.select(col("event_id").as("id_a"), col("ms").as("ms_a")),
        e.select(col("event_id").as("id_b"), col("ms").as("ms_b")),
        "ms_a", "ms_b", 60000L)
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reference = Queries.intervalJoin(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(generic == reference)
  }

  test("saltedSum equals plain aggregation for any data") {
    forAll(rowsGen) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.toDF("k", "v", "tag")
        val plain = df.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
          .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
        val salted = Skew.saltedSum(df, Seq("k"), "v", saltFactor = 4)
          .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
        assert(plain.keySet == salted.keySet)
        plain.foreach { case (k, (s, n)) =>
          assert(math.abs(s - salted(k)._1) < 1e-9 && n == salted(k)._2)
        }
      }
    }
  }

  test("saltedJoin equals plain join for any data") {
    forAll(rowsGen) { rows =>
      whenever(rows.nonEmpty) {
        val fact = rows.toDF("k", "v", "tag")
        val dim = Seq((0L, "x"), (1L, "y"), (5L, "z")).toDF("k", "name")
        val plain = fact.join(dim, "k").collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getString(3))).sorted.toSeq
        val salted = Skew.saltedJoin(fact, dim, "k", saltFactor = 4).collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getString(3))).sorted.toSeq
        assert(plain == salted)
      }
    }
  }

  test("conform is idempotent and always yields the declared schema") {
    val vars = Seq(ColumnSpec("k", "BIGINT"), ColumnSpec("v", "FLOAT"),
      ColumnSpec("missing", "VARCHAR(8)"))
    forAll(rowsGen) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.toDF("k", "v", "tag")
        val once = Etl.conform(df, vars)
        val twice = Etl.conform(once, vars)
        assert(once.schema == twice.schema)
        assert(once.columns.toSeq == Seq("k", "v", "missing"))
        assert(once.exceptAll(twice).count() == 0)
      }
    }
  }

  test("combineYears preserves total rows and the union of columns") {
    forAll(Gen.zip(rowsGen, rowsGen)) { case (r1, r2) =>
      whenever(r1.nonEmpty && r2.nonEmpty) {
        val a = r1.toDF("k", "v", "tag")
        val b = r2.toDF("k", "v", "extra")
        val u = Etl.combineYears(Seq(a, b))
        assert(u.count() == r1.size + r2.size)
        assert(u.columns.toSet == Set("k", "v", "tag", "extra"))
        // rows from a have NULL extra; rows from b have NULL tag
        assert(u.filter(col("extra").isNull).count() >= r1.size)
      }
    }
  }

  private val textGen = Gen.listOfN(20, Gen.zip(
    Gen.chooseNum(0L, 1000L),
    Gen.listOfN(12, Gen.oneOf("the", "fast", "key", "order", "la", "und",
      "scan", "merge", "12", "x,y")).map(_.mkString(" "))))

  test("quality metrics are bounded and consistent for any text") {
    forAll(textGen) { docs =>
      whenever(docs.nonEmpty) {
        val df = docs.distinctBy(_._1).toDF("doc_id", "text")
        Text.quality(df).collect().foreach { r =>
          val wc = r.getAs[Int]("word_count")
          val sc = r.getAs[Int]("stop_count")
          assert(wc > 0 && sc >= 0 && sc <= wc)
          val q = r.getAs[Double]("quality_score")
          assert(q >= 0.0 && q <= 1.0001)
        }
      }
    }
  }

  test("fused repetition equals a driver-side reference on random docs") {
    // The r5 single-explode fusion (tagged unigrams+bigrams, conditional
    // agg, line stats riding as first()) is checked here against an
    // INDEPENDENT straight-line Scala computation — the DuckDB oracle
    // shares the tokenization spec, this does not share the fusion.
    def round4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def reference(text: String): (Int, Int, Double, Double, Double, Int, Double) = {
      // Spark's trim() strips ONLY spaces (0x20), not Java trim's <=0x20:
      // a doc starting with "\n" keeps a leading empty token after the
      // whitespace split, in BOTH engines (DuckDB trim is space-only
      // too). The reference must replicate that exact contract.
      val trimmed = text.replaceAll("^ +", "").replaceAll(" +$", "")
      val toks = trimmed.toLowerCase.split("[\t\n\f\r ]+", -1).toSeq
      val bigrams = if (toks.length >= 2)
        toks.sliding(2).map(_.mkString(" ")).toSeq else Seq(toks.head)
      val lines = text.split("\n", -1).toSeq
      val nTok = toks.length
      val nTyp = toks.distinct.length
      val topCnt = toks.groupBy(identity).values.map(_.size).max
      val topBg = bigrams.groupBy(identity).values.map(_.size).max
      (nTok, nTyp,
        round4((nTok - nTyp).toDouble / nTok),
        round4(topCnt.toDouble / nTok),
        round4(topBg.toDouble / bigrams.length),
        lines.length,
        round4((lines.length - lines.distinct.length).toDouble / lines.length))
    }
    val docGen = Gen.listOfN(12, Gen.frequency(
      8 -> Gen.oneOf("dog", "cat", "run", "the", "a"),
      1 -> Gen.const("\n"),
      1 -> Gen.oneOf("", "  ", "Dog!", "")))
      .map(_.mkString(" "))
    forAll(Gen.listOfN(6, docGen), n = 8) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Text.repetition(df).collect().map { r =>
        r.getAs[Long]("doc_id") -> ((r.getAs[Int]("n_tokens"),
          r.getAs[Int]("n_types"), r.getAs[Double]("dup_token_frac"),
          r.getAs[Double]("top_token_frac"),
          r.getAs[Double]("top_bigram_frac"), r.getAs[Int]("n_lines"),
          r.getAs[Double]("dup_line_frac")))
      }.toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) == reference(t), s"doc $i: <$t>")
      }
    }
  }

  test("bm25's regexp_count document length equals the split-array size") {
    // bm25 computes dl as regexp_count(trimmed, ws+)+1 to avoid a second
    // split-and-materialize pass; that is only sound if it equals
    // size(split(trimmed, ws+)) for EVERY input — including empty,
    // all-whitespace, and leading/trailing-run texts (split keeps
    // trailing empties, so both sides count the empty token).
    val weird = Seq("", " ", "  \t\n ", "a", " a ", "a  b", "\na b\r\n",
      "xy", "a b c  ", "\t\t")
    val gen = Gen.listOfN(8, Gen.oneOf(
      Gen.oneOf(weird), Gen.listOfN(6,
        Gen.oneOf("dog", " ", "\n", "a,b", "")).map(_.mkString)))
    forAll(gen, n = 10) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val trimmed = trim(lower(col("text")))
      val bad = df.select(
          (regexp_count(trimmed, lit(Text.wsRe)) + 1).as("via_count"),
          size(split(trimmed, Text.wsRe)).as("via_split"))
        .filter(col("via_count") =!= col("via_split")).count()
      assert(bad == 0L)
    }
  }

  test("fused pq_codes/pq_dt equal the composed chain on random vectors and codebooks") {
    // random (m, k, sub) shapes + random vectors INCLUDING ragged ones
    // (shorter than m·sub — the slice clamp) — fused and composed must
    // agree bitwise everywhere, codes and distance tables both
    val cfgGen = for {
      m <- Gen.oneOf(1, 2, 4, 8)
      k <- Gen.oneOf(2, 3, 5)
      sub <- Gen.oneOf(1, 2, 3)
      cb <- Gen.listOfN(m * k * sub, Gen.chooseNum(-4.0, 4.0))
      nVec <- Gen.chooseNum(1, 6)
      vecLens <- Gen.listOfN(nVec, Gen.chooseNum(0, m * sub + 2))
      vals <- Gen.listOfN(vecLens.sum max 1, Gen.chooseNum(-8.0, 8.0))
    } yield (m, k, sub, cb, vecLens, vals)
    forAll(cfgGen, n = 8) { case (m, k, sub, cbFlat, vecLens, vals) =>
      val cbs = Array.tabulate(m, k, sub)((s, j, t) =>
        cbFlat(s * k * sub + j * sub + t))
      val lit3d = cbs.map(_.map(_.map(x => s"cast('$x' as double)")
          .mkString("array(", ",", ")")).mkString("array(", ",", ")"))
        .mkString("array(", ",", ")")
      var off = 0
      val vecs = vecLens.map { len =>
        val v = vals.slice(off, off + len).map(_.toFloat).toArray
        off += len; v
      }
      val df = vecs.toDF("v")
      def composed(s: Int) = {
        val cw = cbs(s).map(_.map(x => s"cast('$x' as double)")
          .mkString("array(", ",", ")")).mkString("array(", ",", ")")
        s"centroid_dists(slice(v, ${s * sub + 1}, $sub), $cw)"
      }
      val codesComposed = (0 until m)
        .map(s => s"cast(array_position(${composed(s)}, array_min(${composed(s)})) - 1 as int)")
        .mkString("array(", ",", ")")
      val dtComposed = (0 until m).map(composed).mkString("array(", ",", ")")
      df.select(
          expr(s"pq_codes(v, $lit3d)").as("nc"), expr(codesComposed).as("cc"),
          expr(s"pq_dt(v, $lit3d)").as("nd"), expr(dtComposed).as("cd"))
        .collect().foreach { r =>
          assert(r.getSeq[Int](0) == r.getSeq[Int](1))
          assert(r.getSeq[Seq[Double]](2) == r.getSeq[Seq[Double]](3))
        }
    }
  }

  test("ShuffleAudit listener: groupBy shuffles bytes, filter-only scan none") {
    val l = new ShuffleAudit.MetricsListener
    spark.sparkContext.addSparkListener(l)
    try {
      ShuffleAudit.settle(l)
      val b0 = l.snapshot
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .filter(col("l_quantity") > 10).select("l_orderkey")
        .write.format("noop").mode("overwrite").save()
      ShuffleAudit.settle(l)
      val b1 = l.snapshot
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").agg(sum("l_quantity"))
        .write.format("noop").mode("overwrite").save()
      ShuffleAudit.settle(l)
      val b2 = l.snapshot
      // scan-filter-project has no exchange: zero shuffle bytes delta
      assert(b1(0) - b0(0) === 0L)
      // the aggregate's partial→final exchange writes real bytes
      assert(b2(0) - b1(0) > 0L)
      // and the scans' input bytes were observed at all
      assert(b1(2) - b0(2) > 0L)
      // each write ran at least one job, and the listener counted it
      assert(b1(5) - b0(5) >= 1L && b2(5) - b1(5) >= 1L)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("Tables.release drops cached and localCheckpoint blocks") {
    val cached = spark.range(100).toDF("id").cache()
    cached.count(): Unit
    spark.range(100).toDF("id").localCheckpoint(eager = true): Unit
    assert(spark.sparkContext.getPersistentRDDs.size >= 2)
    Tables.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("jaccard output is bounded, ordered, and self-consistent") {
    forAll(textGen) { docs =>
      whenever(docs.size > 1) {
        val df = docs.distinctBy(_._1).toDF("doc_id", "text")
          .withColumn("lang", lit("xx"))
        graft.dedup.Dedup.ngramJaccard(df, threshold = 0.0).collect().foreach { r =>
          assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
          val j = r.getAs[Double]("jaccard")
          assert(j >= 0.0 && j <= 1.0)
        }
      }
    }
  }

  test("native scalar expressions null-propagate: null input yields null, never a crash") {
    // Every graft Catalyst expression is built on nullSafeEval /
    // nullSafeCodeGen, so a null input row produces a null output row —
    // the Spark built-in convention, and at 100 TB the difference
    // between one null cell and a dead job. This pin stops a future
    // expression from shipping without the convention. (Runtime nulls
    // through the codegen path are exercised by the hostile-corpus
    // sweeps; the constant-folded path here pins eval().)
    val nullVecF = "cast(null as array<float>)"
    val vecF = "cast(array(1.0, 2.0) as array<float>)"
    val cb = "array(array(array(0.0d, 0.0d)))" // m=1, k=1, sub=2
    val cases = Seq(
      s"cosine_sim($nullVecF, $vecF)",
      s"cosine_sim($vecF, $nullVecF)",
      s"l2_sq($nullVecF, $vecF)",
      s"l2_sq($vecF, $nullVecF)",
      "md5_mod_p(cast(null as string))",
      "md5_h32(cast(null as string))",
      "md5_fp62(cast(null as string))",
      s"lsh_buckets($nullVecF, 2, 1, 2)",
      s"centroid_dists($nullVecF, array(array(0.0d, 0.0d)))",
      s"pq_codes($nullVecF, $cb)",
      s"pq_dt($nullVecF, $cb)",
      "adc_dist(cast(null as array<array<double>>), array(1))",
      "adc_dist(array(array(0.0d)), cast(null as array<int>))")
    for (c <- cases)
      assert(spark.sql(s"SELECT $c AS v").head().isNullAt(0),
        s"$c should evaluate to NULL")
  }

  test("datePredicates: disjoint and covering for any sorted cutpoints — " +
    "every date (and NULL) matches exactly one predicate") {
    import graft.sources.Jdbc
    val day = Gen.choose(0L, 3650L)
      .map(d => java.time.LocalDate.of(2015, 1, 1).plusDays(d))
    val gen = for {
      n <- Gen.choose(1, 8)
      cuts <- Gen.listOfN(n, day)
      probes <- Gen.listOfN(30, Gen.option(day))
    } yield (cuts.map(_.toString).distinct.sorted, probes)
    forAll(gen, n = 80) { case (cuts, probes) =>
      val preds = Jdbc.datePredicates("d", cuts)
      assert(preds.size == cuts.size + 1)
      // evaluate each predicate as a driver-side function of an
      // Option[LocalDate] — the semantics Spark/the database apply
      def matches(p: String, v: Option[java.time.LocalDate]): Boolean = {
        val s = v.map(_.toString)
        if (p.contains("IS NULL")) // first range: d < c1 OR d IS NULL
          s.isEmpty || s.get < cuts.head
        else if (p.contains(">=") && p.contains("<")) {
          val Array(a, b) = """'([0-9-]+)'""".r
            .findAllMatchIn(p).map(_.group(1)).toArray
          s.exists(x => x >= a && x < b)
        } else { // trailing: d >= cn
          val a = """'([0-9-]+)'""".r.findFirstMatchIn(p).get.group(1)
          s.exists(_ >= a)
        }
      }
      probes.foreach { v =>
        val hits = preds.count(matches(_, v))
        assert(hits == 1,
          s"$v matched $hits of $preds (cuts=$cuts)")
      }
    }
  }
}
