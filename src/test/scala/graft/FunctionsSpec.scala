package graft

import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, VectorExpressions}

class FunctionsSpec extends SparkSpec {
  private val ss = SparkSpec.spark
  import ss.implicits._

  test("graft_shingles matches the declarative HOF formulation") {
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "two words",
      "  padded   whitespace \t everywhere  ",
      "repeat repeat repeat repeat repeat").toDF("text")
    val toks = split(trim(col("text")), "\\s+")
    val declarative = array_distinct(transform(
      when(size(toks) >= 3,
        transform(sequence(lit(0), size(toks) - 3),
          i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3))))
        .otherwise(array(trim(col("text")))),
      s => xxhash64(s).bitwiseAND(lit(0xFFFFFFFFL))))
    val rows = docs.select(
      GraftFunctions.shingles(col("text")).as("fast"), declarative.as("slow")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString)
    }
  }

  test("VecMinMaxAgg equals the exploded min/max route bit for bit") {
    import org.apache.spark.sql.GraftShim
    val dim = 6
    val vecs = Seq(
      Array(1.5f, -2f, 0f, Float.MinValue, 7f, -0.5f),
      Array(-3f, 4f, 0.25f, 100f, -7f, 0.5f),
      Array(0f, 0.125f, -9f, 0f, 7.5f, 0f)).toDF("embedding")
    val exploded = vecs
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => r.getInt(0) -> (r.getFloat(1), r.getFloat(2))).toMap
    val buf = vecs.agg(GraftShim.column(graft.functions.VecMinMaxAgg(
        GraftShim.expression(col("embedding")), dim)
        .toAggregateExpression()).as("mm"))
      .collect()(0).getSeq[Float](0).toArray
    (0 until dim).foreach { i =>
      assert(java.lang.Float.compare(buf(i), exploded(i)._1) == 0,
        s"min mismatch at $i: ${buf(i)} vs ${exploded(i)._1}")
      assert(java.lang.Float.compare(buf(dim + i), exploded(i)._2) == 0,
        s"max mismatch at $i: ${buf(dim + i)} vs ${exploded(i)._2}")
    }
  }

  test("VecMinMaxAgg skips null vector elements, as Spark's min/max skip nulls") {
    import org.apache.spark.sql.GraftShim
    val vecs = Seq(
      Seq(Some(2f), None, None),
      Seq(Some(3f), Some(5f), None),
      Seq(None, Some(7f), None)).toDF("embedding")
    val buf = vecs.agg(GraftShim.column(graft.functions.VecMinMaxAgg(
        GraftShim.expression(col("embedding")), 3)
        .toAggregateExpression()).as("mm"))
      .collect()(0).getSeq[Float](0)
    // a dimension only nulls reach keeps the (+Inf, -Inf) sentinels
    assert(buf == Seq(2f, 5f, Float.PositiveInfinity, 3f, 7f, Float.NegativeInfinity), buf)
  }

  test("graft_cosine matches normalized HOF dot; zero vectors give 0") {
    val vecs = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(-1.0f, 0.5f, 2.0f)),
      (Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f)),
      (Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f))).toDF("a", "b")
    val slow = graft.operators.Similarity.dot(
      graft.operators.Similarity.normalized(col("a")),
      graft.operators.Similarity.normalized(col("b")))
    val rows = vecs.select(GraftFunctions.cosine(col("a"), col("b")).as("fast"),
      slow.as("slow")).collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9, r.toString))
    assert(rows(1).getDouble(0) == 0.0)
    assert(math.abs(rows(2).getDouble(0) - 1.0) < 1e-12)
  }

  test("hyperplane signature is scale-invariant and matches a JVM recompute") {
    val v = Array.tabulate(64)(i => math.sin(i * 1.7).toFloat)
    val scaled = v.map(_ * 37.5f)
    val rows = Seq((v, scaled)).toDF("v", "scaled").select(
      GraftFunctions.hyperplaneSig(col("v"), 32).as("s1"),
      GraftFunctions.hyperplaneSig(col("scaled"), 32).as("s2")).collect()
    assert(rows(0).getLong(0) == rows(0).getLong(1), "sign(v·p) must ignore positive scaling")
    var expected = 0L
    for (i <- 0 until 32) {
      val dot = (0 until 64).map(j => v(j) * VectorExpressions.PlanesFlat(i * 64 + j)).sum
      if (dot >= 0.0) expected |= 1L << i
    }
    assert(rows(0).getLong(0) == expected)
  }

  test("graft_fingerprint matches the declarative rolling-hash formulation") {
    val docs = Seq("abc", "", "hello world!", "héllo wörld", "a" * 500).toDF("text")
    val declarative = aggregate(
      split(col("text"), ""), lit(0L),
      (acc, c) => (acc * 31L + ascii(c).cast("long")) % 1000000007L)
    val rows = docs.select(
      GraftFunctions.fingerprint(col("text")).as("fast"), declarative.as("slow")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // order sensitivity
    val Seq(ab, ba) = Seq("ab", "ba").map(s =>
      Seq(s).toDF("text").select(GraftFunctions.fingerprint(col("text"))).collect()(0).getLong(0))
    assert(ab != ba)
  }

  test("graft_stopword_hits matches the per-language declarative filters") {
    val docs = Seq(
      "The cat and THE dog in the house",
      "der hund und die katze ist nicht da",
      "no stopwords here whatsoever",
      "一二三 mixed 鿿 with latin the",
      "").toDF("text")
    val toks = split(trim(lower(col("text"))), "\\s+")
    def declarative(words: Seq[String]) =
      size(filter(toks, t => t.isin(words.map(lit(_)): _*)))
    val langs = graft.functions.TextKernels.StopwordLangs
    val rows = docs.select(
      GraftFunctions.stopwordHits(col("text")).as("sw") +:
        (langs.map { case (l, w) => declarative(w.toSeq).as(s"d_$l") } :+
          size(regexp_extract_all(col("text"), lit("[\\u4e00-\\u9fff]"), lit(0))).as("d_zh")): _*)
      .collect()
    rows.foreach { r =>
      val sw = r.getStruct(0)
      langs.zipWithIndex.foreach { case ((l, _), i) =>
        assert(sw.getInt(i) == r.getInt(i + 1), s"$l mismatch in $r")
      }
      // the kernel's s_zh must match the regex-count formulation exactly
      // (it replaced it on the hot path — 17.9 task-sec at sf0.1)
      assert(sw.getInt(langs.length) == r.getInt(langs.length + 1), s"zh mismatch in $r")
    }
  }

  test("functions are callable from SQL (extensions registration)") {
    GraftFunctions.ensureRegistered(spark)
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c, " +
        "graft_hyperplane_sig(array(1.0D), 8) AS s, " +
        "size(graft_shingles('a b c d')) AS n").collect()(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getInt(2) == 2)
  }

  test("graft_word_ngrams matches the declarative slice formulation") {
    val df = Seq(
      "a b c d e",
      "  x   y  ",
      "solo",
      "",
      "\ta b c",      // leading tab: Spark trim keeps it → empty first token
      "a b c\n",      // trailing newline: trailing empty token (split -1)
      "w1 w2 w3").toDF("t")
    val n = 3
    val ws = split(trim(col("t")), "\\s+")
    val kernel = df.select(GraftFunctions.wordNgrams(col("t"), n).as("g"))
      .collect().map(_.getSeq[String](0)).toSeq
    val decl = df.select(
      when(size(ws) >= n,
        transform(sequence(lit(0), size(ws) - lit(n)),
          i => array_join(slice(ws, i + lit(1), lit(n)), " ")))
        .otherwise(array().cast("array<string>")).as("g"))
      .collect().map(_.getSeq[String](0)).toSeq
    assert(kernel == decl)
    assert(kernel.head == Seq("a b c", "b c d", "c d e"))
  }

  test("bloom kernel: inserted hashes always probe true; absent ones mostly false") {
    import graft.functions.BloomKernel
    val m = 1 << 12
    val k = 7
    val bits = new Array[Byte](m / 8)
    val rnd = new scala.util.Random(42)
    val ins = Seq.fill(200)((rnd.nextLong(), rnd.nextLong()))
    ins.foreach { case (a, b) => BloomKernel.setBits(bits, m, k, a, b) }
    // the bloom contract: NEVER a false negative
    assert(ins.forall { case (a, b) => BloomKernel.mightContain(bits, m, k, a, b) })
    // 200 keys in 4096 bits at k=7 → theoretical fpp ≈ 0.05%; allow wide slack
    val absent = Seq.fill(1000)((rnd.nextLong(), rnd.nextLong()))
    val fp = absent.count { case (a, b) => BloomKernel.mightContain(bits, m, k, a, b) }
    assert(fp <= 20, s"false-positive rate implausibly high: $fp/1000")
  }

  test("int8 quantize/ADC: reconstruction error bounded, codes 4x smaller, ranking agrees") {
    import org.apache.spark.sql.GraftShim
    import graft.functions.{QuantizeVec, QuantizedCosine}
    val rnd = new scala.util.Random(3)
    val dim = graft.functions.VectorExpressions.Dim
    val vecs = (0 until 50).map(i => i.toLong -> Array.fill(dim)(rnd.nextGaussian().toFloat))
    val df = vecs.toDF("id", "v")
    val mins = Array.tabulate(dim)(j => vecs.map(_._2(j)).min)
    val scales = Array.tabulate(dim)(j => (vecs.map(_._2(j)).max - mins(j)) / 255f)
    val q = vecs.head._2
    val rows = df.select(col("id"),
        GraftShim.column(QuantizeVec(GraftShim.expression(col("v")), mins, scales)).as("code"))
      .withColumn("acos", GraftShim.column(QuantizedCosine(
        GraftShim.expression(col("code")), GraftShim.expression(typedlit(q)), mins, scales)))
      .collect()
    rows.foreach { r =>
      val id = r.getAs[Long]("id")
      val code = r.getAs[Array[Byte]]("code")
      assert(code.length == dim, "one byte per dimension")
      // reconstruction error per dim is at most half a quantization step
      val orig = vecs(id.toInt)._2
      (0 until dim).foreach { j =>
        val rec = mins(j) + (code(j) & 0xFF) * scales(j)
        assert(math.abs(rec - orig(j)) <= scales(j) * 0.5 + 1e-6,
          s"dim $j of vec $id off by more than half a step")
      }
      // ADC cosine is within quantization distance of exact cosine
      val exact = {
        var d = 0.0; var na = 0.0; var nb = 0.0
        (0 until dim).foreach { j =>
          d += orig(j).toDouble * q(j); na += orig(j).toDouble * orig(j); nb += q(j).toDouble * q(j) }
        d / math.sqrt(na * nb)
      }
      assert(math.abs(r.getAs[Double]("acos") - exact) < 0.02,
        s"vec $id: adc ${r.getAs[Double]("acos")} vs exact $exact")
    }
  }

  test("IVF x int8 composition: list-pruned code scan matches the plain-IVF candidates' recall") {
    val exact = graft.operators.Similarity.bruteForceTopK(spark, sf)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = graft.operators.Similarity.ivfTopK(spark, sf)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val composed = graft.operators.Similarity.ivfQuantizedTopK(spark, sf)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(s: Set[(Long, Long)]) = s.intersect(exact).size.toDouble / exact.size
    // quantization loses nothing measurable on this corpus (int8 recall
    // is 1.0 stand-alone), so composing it with the SAME list pruning
    // must not cost recall vs plain IVF
    assert(recall(composed) >= recall(ivf) - 1e-9,
      s"composed ${recall(composed)} vs ivf ${recall(ivf)}")
    assert(recall(composed) >= 0.3, s"composed recall ${recall(composed)} under IVF floor")
  }

  test("PQ: codes are m bytes, encode/ADC round trip tracks cosine, recall holds") {
    import org.apache.spark.sql.GraftShim
    import graft.functions.{PqKernel, PqEncode, PqCosine}
    val rnd = new scala.util.Random(7)
    val dim = graft.functions.VectorExpressions.Dim
    val m = 8
    val vecs = (0 until 400).map(i => i.toLong -> Array.fill(dim)(rnd.nextGaussian().toFloat))
    val kernel = PqKernel.train(vecs.map(_._2).toArray, dim, m, ks = 32)
    val q = vecs.head._2
    val df = vecs.toDF("id", "v")
    val rows = df.select(col("id"),
        GraftShim.column(PqEncode(GraftShim.expression(col("v")), kernel)).as("code"))
      .withColumn("acos", GraftShim.column(PqCosine(
        GraftShim.expression(col("code")), GraftShim.expression(typedlit(q)), kernel)))
      .collect()
    def exactCos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      (0 until dim).foreach { j =>
        d += a(j).toDouble * b(j); na += a(j).toDouble * a(j); nb += b(j).toDouble * b(j) }
      d / math.sqrt(na * nb)
    }
    val errs = rows.map { r =>
      val id = r.getAs[Long]("id")
      assert(r.getAs[Array[Byte]]("code").length == m, "m bytes per vector")
      math.abs(r.getAs[Double]("acos") - exactCos(vecs(id.toInt)._2, q))
    }
    // PQ is coarse by design; ADC must still track cosine closely in the
    // mean (the shortlist re-rank absorbs per-vector noise)
    assert(errs.sum / errs.length < 0.25,
      s"mean ADC error ${errs.sum / errs.length}")
    // the encoder is deterministic: re-encoding agrees byte-for-byte
    val again = df.select(GraftShim.column(
      PqEncode(GraftShim.expression(col("v")), kernel)).as("code")).collect()
    assert(rows.map(_.getAs[Array[Byte]]("code").toSeq) ===
      again.map(_.getAs[Array[Byte]]("code").toSeq))
    // end-to-end recall on the real corpus holds the audit floor
    val exact = graft.operators.Similarity.bruteForceTopK(spark, sf)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = graft.operators.Similarity.pqTopK(spark, sf)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = pq.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"PQ recall $recall under floor")
  }

  test("count-min sketch: one-sided estimates, partition-invariant merge, CM bound") {
    import graft.functions.{CountMin, CountMinAgg}
    import org.apache.spark.sql.GraftShim
    val words = Seq.tabulate(500)(i => s"w${i % 37}") ++ Seq.fill(200)("hot")
    def sketchOf(parts: Int): Seq[Long] = {
      val df = spark.createDataFrame(
        words.map(Tuple1(_)).toDF("tok").rdd.repartition(parts),
        new org.apache.spark.sql.types.StructType()
          .add("tok", org.apache.spark.sql.types.StringType))
      df.agg(GraftShim.column(CountMinAgg(
        GraftShim.expression(org.apache.spark.sql.functions.col("tok")), 5, 256)
        .toAggregateExpression()).as("s")).collect()(0).getSeq[Long](0)
    }
    val s1 = sketchOf(1)
    val s8 = sketchOf(8)
    assert(s1 == s8, "cell-wise merge must make the sketch partition-invariant")
    val exact = words.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    assert(CountMin.total(s1, 5, 256) == words.size.toLong)
    val slack = CountMin.slack(s1, 5, 256)
    exact.foreach { case (w, n) =>
      val est = CountMin.estimate(s1, 5, 256, w)
      assert(est >= n, s"$w: $est < exact $n (CM must never undercount)")
      assert(est <= n + slack, s"$w: $est > $n + $slack")
    }
    // an absent item estimates at most the slack
    assert(CountMin.estimate(s1, 5, 256, "never-seen") <= slack)
  }

  test("PCA: Jacobi eigensolve is exact on a known matrix; moments merge partition-invariant") {
    import graft.functions.{Pca, VecMomentsAgg}
    import org.apache.spark.sql.GraftShim
    // known 2x2: [[2,1],[1,2]] -> eigenvalues 3,1; vectors (1,1)/sqrt2, (-1,1)/sqrt2
    val (vals, vecs) = Pca.jacobiEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(vals(0) - 3.0) < 1e-9 && math.abs(vals(1) - 1.0) < 1e-9)
    assert(math.abs(math.abs(vecs(0)(0)) - math.sqrt(0.5)) < 1e-9)
    // random symmetric 8x8: A v = lambda v for every pair, trace preserved
    val rnd = new scala.util.Random(7)
    val dim = 8
    val m = Array.ofDim[Double](dim, dim)
    for (i <- 0 until dim; j <- i until dim) {
      val x = rnd.nextGaussian(); m(i)(j) = x; m(j)(i) = x
    }
    val (ev, evec) = Pca.jacobiEigen(m)
    assert(math.abs(ev.sum - (0 until dim).map(i => m(i)(i)).sum) < 1e-8, "trace")
    for (r <- 0 until dim) {
      val av = (0 until dim).map(i => (0 until dim).map(j => m(i)(j) * evec(r)(j)).sum)
      val resid = (0 until dim).map(i => math.abs(av(i) - ev(r) * evec(r)(i))).max
      assert(resid < 1e-7, s"eigenpair $r residual $resid")
    }
    // distributed moments: planted dominant direction along (1,1,0,...)/sqrt2
    val vdim = graft.functions.VectorExpressions.Dim
    val rows = Seq.tabulate(400) { i =>
      val t = rnd.nextGaussian() * 10.0
      val v = Array.tabulate(vdim)(d =>
        (if (d == 0 || d == 1) t / math.sqrt(2.0) else 0.0).toFloat +
          rnd.nextGaussian().toFloat * 0.1f)
      Tuple1(v.toSeq)
    }
    def buf(parts: Int): Seq[Double] = rows.toDF("embedding")
      .repartition(parts)
      .agg(GraftShim.column(VecMomentsAgg(
        GraftShim.expression(org.apache.spark.sql.functions.col("embedding")), vdim)
        .toAggregateExpression()).as("m")).collect()(0).getSeq[Double](0)
    val b1 = buf(1); val b8 = buf(8)
    assert(b1.zip(b8).forall { case (x, y) => math.abs(x - y) < 1e-6 * (1 + math.abs(x)) },
      "moments must be partition-invariant")
    val model = Pca.fit(b1.toArray, vdim, 2)
    val c0 = model.components(0)
    val align = math.abs(c0(0) * math.sqrt(0.5) + c0(1) * math.sqrt(0.5))
    assert(align > 0.99, s"first component must find the planted direction, align=$align")
    assert(model.explainedRatio > 0.9, s"2 components capture the planted variance")
    // projection kernel: out = (x - mean) . component, float-rounded
    val probe = rows.head._1.toArray
    val proj = graft.functions.ProjectVec(
      org.apache.spark.sql.catalyst.expressions.Literal(probe),
      model.mean, model.components)
    val got = proj.kernel(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(probe))
    val want = model.components.map(c =>
      c.indices.map(j => (probe(j) - model.mean(j)) * c(j)).sum)
    (0 until 2).foreach(r =>
      assert(math.abs(got.getFloat(r) - want(r)) < 1e-3, s"component $r"))
  }

  test("distributed Lloyd refinement: inertia non-increasing, planted clusters found") {
    import graft.functions.VectorExpressions
    val dim = VectorExpressions.Dim
    val rnd = new scala.util.Random(11)
    // 3 well-separated planted clusters on the unit sphere
    val centers = Seq(0, 1, 2).map { c =>
      Array.tabulate(dim)(j => if (j == c) 1.0f else 0.0f)
    }
    val rows = Seq.tabulate(600) { i =>
      val c = centers(i % 3)
      (i.toLong, c.indices.map(j => c(j) + rnd.nextGaussian().toFloat * 0.05f))
    }
    val dir = SparkSpec.plantedDir("embeddings" ->
      rows.toDF("vec_id", "embedding"))
    val r = graft.operators.KMeans.refine(spark, dir, nLists = 3, iters = 5,
      sampleSize = 30)
    assert(r.inertia.size == 5)
    r.inertia.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a * (1.0 + 1e-9), s"inertia must not increase: ${r.inertia}")
    }
    // refined centroids sit on the planted directions: every planted
    // center has a centroid within cosine > 0.95
    val cents = r.kernel.centroids.grouped(dim).toSeq
    centers.foreach { c =>
      val best = cents.map { k =>
        val dot = c.indices.map(j => c(j) * k(j)).sum
        val nk = math.sqrt(k.map(x => x * x).sum)
        if (nk == 0) 0.0 else dot / nk
      }.max
      assert(best > 0.95, s"planted direction not recovered (best cos $best)")
    }
    // refinement actually helped: final inertia well below the first pass
    assert(r.inertia.last < r.inertia.head * 0.95,
      s"refinement should cut inertia on a clustered corpus: ${r.inertia}")
  }
}
