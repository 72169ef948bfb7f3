package graft.operators

import graft.{SparkSpec, SparkSuite, Tables}

/** Semantic invariants for the corpus/embedding profiling group —
  * properties that must hold on ANY input, complementing the hash oracle
  * (which pins one dataset's answer). */
class ProfileOpsSpec extends SparkSuite {

  private val sf = SparkSpec.sf0001

  private def docsCount: Long =
    Tables.load(spark, sf, "documents").count()
  private def vecsCount: Long =
    Tables.load(spark, sf, "embeddings").count()

  test("h_dataset_card: one row per source, rates in [0, 1000], volumes conserve") {
    val rows = ProfileOps.hDatasetCard(spark, sf).collect()
    val sources = Tables.load(spark, sf, "documents")
      .select("source").distinct().count()
    assert(rows.length == sources)
    assert(rows.map(_.getLong(1)).sum == docsCount, "card docs != corpus docs")
    rows.foreach { r =>
      val (nDocs, nLangs, topMilli, shortMilli, distinctMilli) =
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(7), r.getLong(8))
      assert(nLangs >= 1)
      assert(topMilli >= 1000 / (nLangs max 1) - 1 && topMilli <= 1000,
        s"dominant-lang share $topMilli impossible with $nLangs langs")
      assert(shortMilli >= 0 && shortMilli <= 1000)
      assert(distinctMilli >= 0 && distinctMilli <= 1000)
      assert(nDocs > 0)
    }
  }

  test("h_dim_variance: shares sum within truncation of 1000; dead iff zero numerator") {
    val rows = ProfileOps.hDimVariance(spark, sf).collect()
    assert(rows.nonEmpty)
    val dims = rows.length
    rows.foreach { r =>
      assert(r.getLong(1) == vecsCount, "every dim sees every vector")
      assert(r.getLong(3) >= 0, "variance numerator negative — Cauchy-Schwarz broke")
      assert(r.getBoolean(5) == (r.getLong(3) == 0L))
    }
    val shareSum = rows.map(_.getLong(4)).sum
    // each of `dims` DIV truncations loses < 1 milli
    assert(shareSum <= 1000 && shareSum > 1000 - dims,
      s"variance shares sum $shareSum outside the truncation envelope for $dims dims")
  }

  test("h_embed_outliers: flags bounded by population; median positive") {
    val rows = ProfileOps.hEmbedOutliers(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == vecsCount)
    rows.foreach { r =>
      val (n, md, hi, lo) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(md > 0, "zero median norm — quantizer collapsed")
      assert(hi + lo <= n, "more outliers than vectors")
      // the lower median splits the population: at most half strictly below it
      assert(lo <= n / 2 + 1)
    }
  }

  test("h_lsh_balance: bucket census conserves vectors; pair volume consistent with class bounds") {
    val rows = ProfileOps.hLshBalance(spark, sf).collect()
    assert(rows.map(_.getLong(2)).sum == vecsCount)
    rows.foreach { r =>
      val (bits, nB, nV, nP) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      // pop_bits = floor(log2 c) + 1 => each bucket's c in [2^(bits-1), 2^bits)
      val lo = 1L << (bits - 1).toInt
      val hi = (1L << bits.toInt) - 1
      assert(nV >= nB * lo && nV <= nB * hi, s"class $bits: $nV vecs in $nB buckets")
      assert(nP >= nB * (lo * (lo - 1) / 2) && nP <= nB * (hi * (hi - 1) / 2))
    }
  }

  test("h_sampling_bias: TVD in [0, 1000]; stratified sample never exceeds corpus or 10/stratum bound") {
    val rows = ProfileOps.hSamplingBias(spark, sf).collect()
    assert(rows.nonEmpty)
    val strataPerLang = Tables.load(spark, sf, "documents")
      .select("lang", "source").distinct().groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (sampler, lang, nC, nS, tvd) =
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nS <= nC, s"$sampler/$lang: sample larger than corpus")
      assert(tvd >= 0 && tvd <= 1000)
      if (sampler == "stratified_k10")
        assert(nS <= 10 * strataPerLang(lang), s"$lang: stratified sample exceeds k*strata")
    }
  }

  test("h_class_margin: intra positive, nearest label differs, margin matches the ratio") {
    try {
      val rows = ProfileOps.hClassMargin(spark, sf).collect()
      assert(rows.map(_.getLong(1)).sum == vecsCount)
      rows.foreach { r =>
        val (label, intra, nearest, inter, margin) =
          (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
        assert(intra > 0, s"label $label: zero intra spread — degenerate cluster")
        assert(nearest != label)
        assert(inter >= 0)
        assert(margin == 1000L * inter / intra)
      }
    } finally Checkpoints.releaseAll()
  }

  test("h_embedding_drift: a single-parity label emits the documented sentinels, not NULL/zero-div") {
    // one version half empty (all vec_ids even) — there is no drift to
    // measure; the contract is m2 = -1 and centroid_cos_milli = -2000
    val dir = graft.SparkSpec.tempDir("drift-degenerate").toString
    Tables.load(spark, sf, "embeddings")
      .filter("vec_id % 2 = 0")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = ProfileOps.hEmbeddingDrift(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) == 0L, "half 1 must be empty in this fixture")
      assert(r.getLong(3) == -2000L, "degenerate centroid cosine must be the sentinel")
      assert(r.getLong(4) >= 0L, "populated half's mean norm2 stays real")
      assert(r.getLong(5) == -1L, "empty half's mean norm2 must be the sentinel")
    }
  }

  test("h_knn_classify: confusion census equals a full Scala referee over the same vote rule") {
    val rows = ProfileOps.hKnnClassify(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // referee: exact cosine, round-4dp HALF_UP (Spark's round), top-5 by
    // (cos DESC, seed id ASC), majority by (count DESC, label ASC)
    val vecs = Tables.load(spark, sf, "embeddings").collect()
      .map(r => (r.getLong(0), r.getInt(2).toLong,
        r.getSeq[Float](1).map(_.toDouble).toArray))
    def cos4(a: Array[Double], b: Array[Double]): BigDecimal = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP)
    }
    val seeds = vecs.filter(_._1 < 256)
    val expect = vecs.filter(_._1 >= 256).map { case (_, label, v) =>
      val t5 = seeds.map { case (sid, sl, sv) => (cos4(v, sv), sid, sl) }
        .sortBy { case (c, sid, _) => (-c, sid) }.take(5).map(_._3)
      val pred = t5.groupBy(identity).toSeq
        .map { case (l, g) => (-g.length, l) }.min._2
      (label, pred)
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(rows == expect, s"confusion census diverged from the referee")
    // every eval vector is classified exactly once
    assert(rows.values.sum == vecs.count(_._1 >= 256).toLong)
  }
}
