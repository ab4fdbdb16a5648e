package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native Catalyst expression layer: kernel semantics, codegen path, and
  * SQL registration through GraftExtensions. */
class ExpressionsSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("shingle_hashes: n-2 shingles for n distinct tokens, dedup for repeats") {
    val df = Seq(
      ("a b c d e", 3),      // 3 distinct shingles
      ("x y x y x y x y", 2), // "x y x", "y x y" repeat → 2 distinct
      ("one two", 0)          // too short
    ).toDF("text", "expected")
    val got = df.select(size(graft.functions.shingle_hashes(col("text"))).as("n"),
      col("expected")).collect()
    got.foreach { r => assert(r.getInt(0) == r.getInt(1), r.toString) }
  }

  test("shingle_hashes matches across codegen and interpreted eval") {
    val texts = graft.sources.Tables.documents(spark, sf).select("text").limit(50)
    val viaCodegen = texts.select(graft.functions.shingle_hashes(col("text")).as("a"))
      .collect().map(_.getSeq[Long](0))
    // try/finally: a failed assertion must not leak NO_CODEGEN into the
    // shared session and mask codegen-path bugs in later suites
    val viaInterp =
      try {
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        texts.select(graft.functions.shingle_hashes(col("text")).as("a"))
          .collect().map(_.getSeq[Long](0))
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    assert(viaCodegen.toSeq == viaInterp.toSeq)
  }

  test("bigram kernels: counts, occurrence order, entry/hash agreement, codegen parity") {
    // occurrence counts are NOT deduped: "a b" appears twice
    val n = Seq(Tuple1("a b a b c")).toDF("text")
      .select(graft.functions.bigram_hashes(col("text")).as("h")).collect()
      .head.getSeq[Long](0)
    assert(n.length == 4 && n(0) == n(2), "4 occurrences; 'a b' hash repeats")
    assert(n.toSet.size == 3, "3 distinct bigrams")
    // entries: distinct, strings sliced from the original text, hashes
    // identical to bigram_hashes
    val e = Seq(Tuple1("a b a b c")).toDF("text")
      .select(explode(graft.functions.bigram_entries(col("text"))).as("e"))
      .select(col("e.h"), col("e.bg")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(e.values.toSet == Set("a b", "b a", "b c"))
    assert(e.keySet == n.toSet)
    // codegen vs interpreted parity on real corpus text
    val texts = graft.sources.Tables.documents(spark, sf).select("text").limit(50)
    val viaCodegen = texts.select(graft.functions.bigram_hashes(col("text")).as("a"))
      .collect().map(_.getSeq[Long](0))
    val viaInterp =
      try {
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        texts.select(graft.functions.bigram_hashes(col("text")).as("a"))
          .collect().map(_.getSeq[Long](0))
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    assert(viaCodegen.toSeq == viaInterp.toSeq)
  }

  test("bigram_pair_hashes: hb matches bigram_hashes per occurrence, hl keyed on left token") {
    val rows = Seq(Tuple1("a b a b c")).toDF("text")
      .select(graft.functions.bigram_hashes(col("text")).as("h"),
        graft.functions.bigram_pair_hashes(col("text")).as("p"))
      .select(col("h"), col("p.hl").as("hl"), col("p.hb").as("hb"))
      .collect().head
    val (h, hl, hb) = (rows.getSeq[Long](0), rows.getSeq[Long](1), rows.getSeq[Long](2))
    // same occurrences in the same order as bigram_hashes
    assert(hb == h, "pair kernel's hb must equal bigram_hashes occurrence-wise")
    // left-token hashes: positions 0 ("a b") and 2 ("a b") share hl with
    // each other but ALSO with nothing else starting 'b'
    assert(hl(0) == hl(2) && hl(1) == hl(3) && hl(0) != hl(1),
      "hl must key on the left token only")
    // hb determines hl (the t12 aggregation relies on this)
    assert(hb.zip(hl).toMap.size == hb.toSet.size)
  }

  test("interleave_bits: bit placement, monotone-box property, SQL form") {
    import graft.functions.ShingleKernels.interleave16
    assert(interleave16(1L, 0L) == 1L)      // a on even bits
    assert(interleave16(0L, 1L) == 2L)      // b on odd bits
    assert(interleave16(0xffffL, 0L) == 0x55555555L)
    assert(interleave16(0L, 0xffffL) == 0xaaaaaaaaL)
    assert(interleave16(0xffffL, 0xffffL) == 0xffffffffL)
    // monotonicity in both coordinates — the property box pruning rests
    // on: p inside box [a1..a2]x[b1..b2] => z(p) inside [z(a1,b1), z(a2,b2)]
    val rnd = new scala.util.Random(7)
    (1 to 2000).foreach { _ =>
      val (a1, b1) = (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong)
      val (da, db) = (rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong)
      assert(interleave16(a1, b1) <= interleave16(math.min(a1 + da, 65535L), math.min(b1 + db, 65535L)))
    }
    val viaSql = spark.sql("SELECT interleave_bits(3L, 5L) AS z").collect().head.getLong(0)
    assert(viaSql == interleave16(3L, 5L))
  }

  test("interleave_bits_n: 2-col parity with interleave16, monotone in every dim") {
    import graft.functions.ShingleKernels.{interleave16, interleaveN}
    import org.apache.spark.sql.catalyst.util.ArrayData
    def z(xs: Long*): Long = interleaveN(ArrayData.toArrayData(xs.toArray))
    // n=2 at 16 bits is EXACTLY the 2-col curve (x56 subsumes x22)
    assert(z(3L, 5L) == interleave16(3L, 5L))
    assert(z(0xffffL, 0xffffL) == interleave16(0xffffL, 0xffffL))
    // n=3 → 16 bits per coord (min(16, 64/3)=16): bit placement
    assert(z(1L, 0L, 0L) == 1L)
    assert(z(0L, 1L, 0L) == 2L)
    assert(z(0L, 0L, 1L) == 4L)
    // monotone in EVERY coordinate — the box-pruning property
    val rnd = new scala.util.Random(11)
    (1 to 2000).foreach { _ =>
      val p = Array.fill(3)(rnd.nextInt(65536).toLong)
      val q = p.map(x => math.min(x + rnd.nextInt(1000), 65535L))
      assert(z(p.toIndexedSeq: _*) <= z(q.toIndexedSeq: _*))
    }
    // the Column route evaluates the same kernel
    val viaCol = Seq(Tuple1(Seq(3L, 5L, 7L))).toDF("c")
      .select(graft.functions.interleave_bits_n(col("c"))).head().getLong(0)
    assert(viaCol == z(3L, 5L, 7L))
  }

  test("vector kernels refuse silent truncation (dim mismatch / >64 dims)") {
    val bad = Seq((Seq(1L, 2L, 3L), Seq(1L, 2L))).toDF("a", "b")
    val ex = intercept[Exception] {
      bad.select(graft.functions.quantized_dot(col("a"), col("b"))).collect()
    }
    assert(ex.getMessage != null)
    val wide = Seq(Tuple1((1L to 65L).toSeq)).toDF("a")
    val ex2 = intercept[Exception] {
      wide.select(graft.functions.hyperplane_buckets(col("a"), 2, 4)).collect()
    }
    assert(ex2.getMessage != null)
  }

  test("minhash_signature: k elements, stable, element-wise min property") {
    val a = Seq(Tuple1(Seq(1L, 2L, 3L, 4L))).toDF("arr")
      .select(graft.functions.minhash_signature(col("arr"), 16).as("sig"))
      .collect().head.getSeq[Long](0)
    assert(a.length == 16)
    // signature of a superset is element-wise <= (min can only decrease)
    val b = Seq(Tuple1(Seq(1L, 2L, 3L, 4L, 99L, -7L))).toDF("arr")
      .select(graft.functions.minhash_signature(col("arr"), 16).as("sig"))
      .collect().head.getSeq[Long](0)
    a.zip(b).foreach { case (x, y) => assert(y <= x) }
  }

  test("vector kernels match the interpreted HOF formulations exactly") {
    val df = graft.sources.Tables.embeddings(spark, sf).limit(50)
      .select(transform(col("embedding"),
        x => round(x.cast("double") * 1000.0, 0).cast("long")).as("qv"))
    val rows = df.select(
      graft.functions.sq_norm(col("qv")).as("k_nrm"),
      aggregate(transform(col("qv"), v => v * v), lit(0L), _ + _).as("h_nrm"),
      graft.functions.quantized_dot(col("qv"), reverse(col("qv"))).as("k_dot"),
      aggregate(zip_with(col("qv"), reverse(col("qv")), _ * _), lit(0L), _ + _).as("h_dot"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), "sq_norm drifted from HOF")
      assert(r.getLong(2) == r.getLong(3), "quantized_dot drifted from HOF")
    }
  }

  test("hyperplane_buckets matches the sign-literal column construction") {
    val tables = 4; val bits = 3
    val df = graft.sources.Tables.embeddings(spark, sf).limit(50)
      .select(transform(col("embedding"),
        x => round(x.cast("double") * 1000.0, 0).cast("long")).as("qv"))
    // the pre-kernel formulation: per-(table,plane) ±1 literals, sign of
    // the signed sum sets bit p — kept here as the independent oracle
    val bucketCols = (0 until tables).map { t =>
      (0 until bits).map { p =>
        val signs: Seq[Long] = (0 until 64).map { i =>
          if ((graft.functions.ShingleKernels.splitmix64(
            ((t.toLong * bits + p) << 8) + i) & 1L) == 1L) 1L else -1L
        }
        val signedSum = aggregate(
          zip_with(col("qv"), typedlit(signs), (v, sgn) => v * sgn), lit(0L), _ + _)
        (signedSum > 0).cast("long") * lit(1L << p)
      }.reduce(_ + _).as(s"b$t")
    }
    val rows = df.select(
      graft.functions.hyperplane_buckets(col("qv"), tables, bits).as("kb") +: bucketCols: _*)
      .collect()
    rows.foreach { r =>
      val kb = r.getSeq[Long](0)
      (0 until tables).foreach { t =>
        assert(kb(t) == r.getLong(1 + t), s"bucket drift at table $t")
      }
    }
  }

  test("pq_encode matches the interpreted HOF formulation exactly (long + double, ties, codegen)") {
    // a small deterministic codebook: 2 subspaces × 3 codewords × 4 dims
    val cb: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(1.0, 2.0, -1.0, 0.5), Seq(0.0, 0.0, 0.0, 0.0), Seq(-2.0, 1.0, 3.0, -0.5)),
      Seq(Seq(4.0, -4.0, 0.25, 1.0), Seq(4.0, -4.0, 0.25, 1.0), Seq(0.5, 0.5, 0.5, 0.5)))
    val subLen = 4; val m = 2; val k = 3
    val cbn = cb.map(_.map(w => w.map(x => x * x).sum))
    val cbL = typedlit(cb); val cbnL = typedlit(cbn)
    // the pre-kernel HOF formulation, kept verbatim as the oracle
    def hofCodes(vec: org.apache.spark.sql.Column) = {
      def subDot(j: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
        aggregate(sequence(lit(0), lit(subLen - 1)), lit(0.0),
          (acc, i) => acc + element_at(vec, j * subLen + i + 1).cast("double") *
            element_at(element_at(element_at(cbL, j + 1), c + 1), i + 1))
      transform(sequence(lit(0), lit(m - 1)), j => {
        val dists = transform(sequence(lit(0), lit(k - 1)), c =>
          element_at(element_at(cbnL, j + 1), c + 1) - lit(2.0) * subDot(j, c))
        array_position(dists, array_min(dists)) - 1
      })
    }
    // long input (s11's shape): real embeddings quantized; subspace 2's
    // codewords 0 and 1 are IDENTICAL, so its argmin always ties —
    // first-minimum must pick code 0, never 1
    val longs = graft.sources.Tables.embeddings(spark, sf).limit(50)
      .select(slice(transform(col("embedding"),
        x => round(x.cast("double") * 1000.0, 0).cast("long")), 1, m * subLen).as("v"))
    val lr = longs.select(graft.functions.pq_encode(col("v"), cb).as("kc"),
      hofCodes(col("v")).as("hc")).collect()
    lr.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), "pq_encode drifted from HOF (long)")
      assert(r.getSeq[Long](0)(1) != 1L, "tie did not break to the first codeword")
    }
    // double input (s12's residual shape)
    val dbls = graft.sources.Tables.embeddings(spark, sf).limit(50)
      .select(slice(transform(col("embedding"),
        x => x.cast("double") * 0.001 - 0.5), 1, m * subLen).as("v"))
    val dr = dbls.select(graft.functions.pq_encode(col("v"), cb).as("kc"),
      hofCodes(col("v")).as("hc")).collect()
    dr.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1),
      "pq_encode drifted from HOF (double)"))
    // interpreted eval ≡ codegen (try/finally: a failed assertion must
    // not leak NO_CODEGEN into the shared session)
    val viaInterp =
      try {
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        longs.select(graft.functions.pq_encode(col("v"), cb).as("kc"))
          .collect().map(_.getSeq[Long](0))
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    assert(lr.map(_.getSeq[Long](0)).toSeq == viaInterp.toSeq)
  }

  test("pq_lut/pq_adc match the interpreted HOF formulations exactly (long + double, codegen)") {
    // the same deterministic codebook shape as the pq_encode test
    val cb: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(1.0, 2.0, -1.0, 0.5), Seq(0.0, 0.0, 0.0, 0.0), Seq(-2.0, 1.0, 3.0, -0.5)),
      Seq(Seq(4.0, -4.0, 0.25, 1.0), Seq(4.0, -4.0, 0.25, 1.0), Seq(0.5, 0.5, 0.5, 0.5)))
    val subLen = 4; val m = 2; val k = 3
    val cbn = cb.map(_.map(w => w.map(x => x * x).sum))
    val cbL = typedlit(cb); val cbnL = typedlit(cbn)
    // the pre-kernel HOF formulations (s11/s12's query-side LUT and
    // per-row ADC fold), kept verbatim as the oracle
    def hofLut(vec: org.apache.spark.sql.Column) = {
      def subDot(j: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
        aggregate(sequence(lit(0), lit(subLen - 1)), lit(0.0),
          (acc, i) => acc + element_at(vec, j * subLen + i + 1).cast("double") *
            element_at(element_at(element_at(cbL, j + 1), c + 1), i + 1))
      transform(sequence(lit(0), lit(m - 1)), j =>
        transform(sequence(lit(0), lit(k - 1)), c => subDot(j, c)))
    }
    def hofAdc(table: org.apache.spark.sql.Column, codes: org.apache.spark.sql.Column) =
      aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, j) =>
        acc + element_at(element_at(table, j + 1),
          (element_at(codes, j + 1) + 1).cast("int")))
    // long input (both production call sites hand pq_lut quantized longs)
    val longs = graft.sources.Tables.embeddings(spark, sf).limit(50)
      .select(slice(transform(col("embedding"),
        x => round(x.cast("double") * 1000.0, 0).cast("long")), 1, m * subLen).as("v"))
      .withColumn("codes", graft.functions.pq_encode(col("v"), cb))
    val lr = longs.select(
      graft.functions.pq_lut(col("v"), cb).as("klut"), hofLut(col("v")).as("hlut"),
      graft.functions.pq_adc(graft.functions.pq_lut(col("v"), cb), col("codes")).as("kadc"),
      hofAdc(hofLut(col("v")), col("codes")).as("hadc"),
      graft.functions.pq_adc(cbnL, col("codes")).as("knrm"),
      hofAdc(cbnL, col("codes")).as("hnrm")).collect()
    lr.foreach { r =>
      assert(r.getSeq[Seq[Double]](0) == r.getSeq[Seq[Double]](1),
        "pq_lut drifted from HOF (long)")
      assert(r.getDouble(2) == r.getDouble(3), "pq_adc drifted from HOF (lut)")
      assert(r.getDouble(4) == r.getDouble(5), "pq_adc drifted from HOF (cbn)")
    }
    // double input (the residual shape pq_lut also accepts)
    val dbls = graft.sources.Tables.embeddings(spark, sf).limit(50)
      .select(slice(transform(col("embedding"),
        x => x.cast("double") * 0.001 - 0.5), 1, m * subLen).as("v"))
    val dr = dbls.select(graft.functions.pq_lut(col("v"), cb).as("klut"),
      hofLut(col("v")).as("hlut")).collect()
    dr.foreach(r => assert(r.getSeq[Seq[Double]](0) == r.getSeq[Seq[Double]](1),
      "pq_lut drifted from HOF (double)"))
    // interpreted eval ≡ codegen
    val viaInterp =
      try {
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        longs.select(graft.functions.pq_lut(col("v"), cb).as("klut"),
          graft.functions.pq_adc(graft.functions.pq_lut(col("v"), cb),
            col("codes")).as("kadc"))
          .collect().map(r => (r.getSeq[Seq[Double]](0), r.getDouble(1)))
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    assert(lr.map(r => (r.getSeq[Seq[Double]](0), r.getDouble(2))).toSeq ==
      viaInterp.toSeq)
  }

  test("kernel null/NaN contract: null elements (and NaN for the PQ kernels) throw IllegalArgumentException") {
    val cb = Seq(Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)))
    def refusal(df: org.apache.spark.sql.DataFrame,
        c: org.apache.spark.sql.Column): IllegalArgumentException = {
      val ex = intercept[Exception](df.select(c).collect())
      Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .collectFirst { case e: IllegalArgumentException => e }
        .getOrElse(fail(s"no IllegalArgumentException behind $ex"))
    }
    val withNull = Seq(Tuple1(Seq(Some(1.0), None))).toDF("v")
    val withNaN = Seq(Tuple1(Seq(1.0, Double.NaN))).toDF("v")
    val pq = Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
      "pq_encode" -> (graft.functions.pq_encode(_, cb)),
      "pq_lut" -> (graft.functions.pq_lut(_, cb)))
    pq.foreach { case (name, f) =>
      assert(refusal(withNull, f(col("v"))).getMessage.startsWith(s"$name: null element at index 1"))
      assert(refusal(withNaN, f(col("v"))).getMessage.startsWith(s"$name: NaN element at index 1"))
    }
    assert(refusal(withNull, graft.functions.quantize_milli(col("v"))).getMessage
      .startsWith("quantize_milli: null element at index 1"))
    // quantize_milli keeps cast(round(NaN) as long)'s answer: 0, no throw
    assert(withNaN.select(graft.functions.quantize_milli(col("v"))).head().getSeq[Long](0) ==
      Seq(1000L, 0L))
    // a null ARRAY is a null result, not an error
    val nullArr = Seq(Tuple1(Option.empty[Seq[Double]])).toDF("v")
    val r = nullArr.select(pq.map(_._2(col("v"))) :+
      graft.functions.quantize_milli(col("v")): _*).head()
    assert(r.toSeq.forall(_ == null), r.toString)
  }

  test("quantize_milli matches the transform+round formulation exactly (corpus + boundaries, codegen)") {
    def hof(c: org.apache.spark.sql.Column) =
      transform(c, x => round(x.cast("double") * 1000.0, 0).cast("long"))
    // the whole spec-SF corpus, element-exact
    val corpus = graft.sources.Tables.embeddings(spark, sf)
      .select(graft.functions.quantize_milli(col("embedding")).as("k"),
        hof(col("embedding")).as("h")).collect()
    assert(corpus.nonEmpty)
    corpus.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1),
      "quantize_milli drifted from transform+round on corpus data"))
    // planted boundary values: exact .5 scaled values (half-up must
    // round AWAY from the truncation direction on positives, toward it
    // on negatives per HALF_UP), negatives, zero, float-noise values
    val edges = Seq(Seq(0.0005f, -0.0005f, 0.0015f, -0.0015f, 0.0f,
      1.2345f, -3.4995f, 0.4999999f, -0.5000001f, 123.456f))
      .toDF("e").select(col("e").cast("array<float>").as("embedding"))
    val er = edges.select(graft.functions.quantize_milli(col("embedding")).as("k"),
      hof(col("embedding")).as("h")).collect()
    er.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1),
      s"quantize_milli drifted on boundary values: ${r.getSeq[Long](0)} vs ${r.getSeq[Long](1)}"))
    // double input path too
    val dbl = Seq(Seq(0.0005, -0.0005, 0.0025, -0.0025, 7.7775))
      .toDF("embedding")
    val dr = dbl.select(graft.functions.quantize_milli(col("embedding")).as("k"),
      transform(col("embedding"), x => round(x * 1000.0, 0).cast("long")).as("h")).collect()
    dr.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1),
      s"quantize_milli drifted on double input: ${r.getSeq[Long](0)} vs ${r.getSeq[Long](1)}"))
    // interpreted eval ≡ codegen
    val viaInterp =
      try {
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        graft.sources.Tables.embeddings(spark, sf).limit(50)
          .select(graft.functions.quantize_milli(col("embedding")).as("k"))
          .collect().map(_.getSeq[Long](0))
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    val viaCodegen = graft.sources.Tables.embeddings(spark, sf).limit(50)
      .select(graft.functions.quantize_milli(col("embedding")).as("k"))
      .collect().map(_.getSeq[Long](0))
    assert(viaCodegen.toSeq == viaInterp.toSeq)
  }

  test("SQL registration via GraftExtensions (TestSession is built with it)") {
    val n = spark.sql("SELECT size(shingle_hashes('a b c d')) AS n")
      .collect().head.getInt(0)
    assert(n == 2)
    val k = spark.sql("SELECT size(minhash_signature(shingle_hashes('a b c d e f'), 8)) AS k")
      .collect().head.getInt(0)
    assert(k == 8)
  }

  test("every native kernel is reachable from pure SQL") {
    // quantized_dot/sq_norm: 1*4 + 2*5 + 3*6 = 32; 1+4+9 = 14
    val r = spark.sql(
      """SELECT quantized_dot(array(1L,2L,3L), array(4L,5L,6L)) AS dp,
        |  sq_norm(array(1L,2L,3L)) AS nrm,
        |  byte_stats(cast('aab' AS BINARY)) AS bs,
        |  size(hyperplane_buckets(array(1L,2L,3L), 4, 8)) AS hb,
        |  size(bigram_hashes('a b c')) AS bh,
        |  size(bigram_entries('a b c')) AS be,
        |  size(bigram_pair_hashes('a b c')) AS bp""".stripMargin).collect().head
    assert(r.getLong(0) == 32L && r.getLong(1) == 14L)
    assert(r.getSeq[Long](2) == Seq(3L, 292L, 2L, 2L)) // n, sum(97+97+98), distinct, run
    assert(r.getInt(3) == 4 && r.getInt(4) == 2 && r.getInt(5) == 2 && r.getInt(6) == 2)
    // SQL and DSL forms resolve to the SAME expression: identical results
    val doc = graft.sources.Tables.documents(spark, sf).limit(20)
    doc.createOrReplaceTempView("x_docs")
    val sqlSide = spark.sql("SELECT doc_id, simhash_bands(text) AS b FROM x_docs")
      .collect().map(row => row.getLong(0) -> row.getSeq[Long](1)).toMap
    val dslSide = doc.select(col("doc_id"),
        graft.functions.simhash_bands(col("text")).as("b"))
      .collect().map(row => row.getLong(0) -> row.getSeq[Long](1)).toMap
    assert(sqlSide == dslSide)
  }
}
