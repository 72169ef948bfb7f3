package graft.operators

import graft.{SparkSpec, SparkSuite}
import graft.kernel.SimHash

class LlmOpsSpec extends SparkSuite {

  test("h_ann_lsh emits one planted-pair summary row per query") {
    // columns: q_id, planted_id, found, top1_id, top1_cosine
    val rows = LlmOps.hAnnLsh(spark, SparkSpec.sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length, "one row per query")
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) - 1000000L, "planted id derives from q_id")
      assert(r.getDouble(4) >= -1.0 && r.getDouble(4) <= 1.0)
    }
  }

  test("LSH bucket recall: perturbed twin shares its original's top spot in brute force") {
    // the oracle-matched brute query must rank a vector's ±2% twin first
    // when present; spot-check the machinery end-to-end via hNeardupEmbedding
    val pairs = LlmOps.hNeardupEmbedding(spark, SparkSpec.sf0001).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(r => r.getLong(1) == r.getLong(0) + 1000000L))
    assert(pairs.forall(_.getDouble(2) >= 0.99))
  }

  test("simhash hamming distance: mutated doc stays within small radius") {
    val base = "the quick brown fox jumps over the lazy dog again and again".split(" ")
    val mutated = base.drop(1)
    val d = SimHash.hamming(SimHash.simhash64(base.toSeq), SimHash.simhash64(mutated.toSeq))
    assert(d <= 16, s"hamming $d")
    assert(SimHash.hamming(SimHash.simhash64(base.toSeq), SimHash.simhash64(base.toSeq)) === 0)
  }

  test("multimodal frame sampler: stride windows cover the payload") {
    val content = Array.tabulate(100)(_.toByte)
    val frames = Multimodal.frameSampleStub(content, 32)
    assert(frames.length === 4)
    assert(frames.head.length === 16)
    assert(frames.head(0) === 0.toByte && frames(1)(0) === 32.toByte)
  }

  test("multimodal frames stride BYTES on any corpus, non-ASCII included") {
    // the round-5 oracle strode characters and only agreed with the
    // byte-striding Spark side on pure-ASCII corpora; the oracle now decodes
    // bytes from hex(encode(text)), so both sides are byte-exact. Pin the
    // Spark side's byte semantics on a fixture with multi-byte characters.
    import spark.implicits._
    val texts = Seq(
      "héllo wörld — ünïcode: ночь, 東京, ™ and some ascii tail to cross 32 bytes",
      "plain ascii body under one frame",
      "πρόβλημα " * 9)
    val dir = graft.SparkSpec.tempDir("mm-nonascii").toString
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "xx", "fixture", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Multimodal.hMultimodalFrames(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = texts.zipWithIndex.map { case (t, i) =>
      val bs = t.getBytes("UTF-8")
      val firsts = (0 until bs.length by 32).map(o => (bs(o) & 0xff).toLong)
      (i.toLong, firsts.length.toLong, firsts.sum)
    }
    assert(got === expected)
    assert(texts.exists(t => t.getBytes("UTF-8").length != t.length),
      "fixture lost its multi-byte characters")
  }

  test("multimodal decode stub is deterministic and total") {
    val r = Multimodal.decodeStub(7L, "abcd".getBytes("UTF-8"))
    assert(r.width === ('a'.toInt * 7) % 512 + 1)
    assert(r.format === (('d'.toInt % 3) match { case 0 => "png"; case 1 => "jpg"; case _ => "webp" }))
    val empty = Multimodal.decodeStub(8L, Array.emptyByteArray)
    assert(empty.width === 1 && empty.n_bytes === 0L)
  }

  test("h_lm_quality: bucket histogram partitions the corpus, buckets in range") {
    val rows = LlmOps.hLmQuality(spark, SparkSpec.sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r => val b = r.getLong(1); b >= 0 && b <= 9 })
    val nDocs = rows.map(_.getLong(2)).sum
    val docs = graft.Tables.load(spark, SparkSpec.sf0001, "documents").count()
    assert(nDocs == docs, s"histogram covers $nDocs docs, corpus has $docs")
    // surprisal must discriminate: a corpus whose every doc lands in one
    // bucket means the score degenerated to a constant
    assert(rows.map(_.getLong(1)).distinct.length > 1, "all docs in one bucket")
  }

  test("h_tfidf: top-3 per doc, ranks contiguous, scores non-increasing") {
    val rows = LlmOps.hTfidf(spark, SparkSpec.sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (doc, rs) =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to sorted.length).toSeq,
        s"doc $doc ranks not contiguous: ${sorted.map(_._4).toSeq}")
      assert(sorted.length <= 3)
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._3 >= b._3
        case _ => true
      }, s"doc $doc scores not non-increasing")
      assert(sorted.forall(_._3 > 0), s"doc $doc has non-positive score")
    }
  }

  test("h_modality_join: per-lang accounting reconciles with both tables") {
    val rows = LlmOps.hModalityJoin(spark, SparkSpec.sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val docs = graft.Tables.load(spark, SparkSpec.sf0001, "documents").count()
    val vecs = graft.Tables.load(spark, SparkSpec.sf0001, "embeddings").count()
    assert(rows.map(_._2).sum == docs, "n_docs must cover the documents table")
    assert(rows.map(r => r._3 + r._5).sum == vecs,
      "paired + orphaned vectors must cover the embeddings table")
    rows.foreach { case (lang, nDocs, nPaired, nDocOnly, _) =>
      assert(nDocs == nPaired + nDocOnly, s"$lang: $nDocs != $nPaired + $nDocOnly")
    }
  }

  test("h_semdedup: removes exactly the planted copies, each kept by its original") {
    val rows = LlmOps.hSemDedup(spark, SparkSpec.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // ten perturbed copies are planted; the greedy within-cluster prune
    // must remove each copy in favor of its lower-id original and must
    // never touch a genuine corpus vector (background cosine ≪ τ)
    assert(rows.length == 10, s"expected the 10 planted dups, got ${rows.length}")
    rows.foreach { case (removed, keeper, cos) =>
      assert(removed >= 1000000L, s"removed a genuine corpus vector: $removed")
      assert(keeper == removed - 1000000L,
        s"keeper of $removed should be its original, got $keeper")
      assert(cos > 0.99, s"planted-pair cosine should clear tau, got $cos")
    }
  }

  test("h_bpe_train: three rounds, counts non-increasing, round 1 is the true argmax") {
    val rows = LlmOps.hBpeTrain(spark, SparkSpec.sf0001).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val ns = rows.map(_.getLong(3))
    assert(ns.forall(_ > 0))
    // merging the argmax pair can only shrink or preserve every other
    // pair's count, so the chosen counts are monotone non-increasing
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b },
      s"merge counts increased across rounds: ${ns.toSeq}")
    // independent recount of round 1's winner on the raw corpus
    val top = spark.read.parquet(s"${SparkSpec.sf0001}/documents.parquet")
      .selectExpr("split(text, ' ') AS t")
      .where("size(t) >= 2")
      .selectExpr("explode(sequence(1, size(t) - 1)) AS i", "t")
      .selectExpr("element_at(t, i) AS a", "element_at(t, i + 1) AS b")
      .groupBy("a", "b").count()
      .orderBy(org.apache.spark.sql.functions.col("count").desc,
        org.apache.spark.sql.functions.col("a"), org.apache.spark.sql.functions.col("b"))
      .head()
    assert(rows(0).getString(1) == top.getString(0) && rows(0).getString(2) == top.getString(1),
      s"round-1 merge ${rows(0)} is not the corpus argmax $top")
    assert(rows(0).getLong(3) == top.getLong(2), "round-1 count mismatch")
  }

  test("h_ann_filtered: every neighbor matches the query label; ranks are cosine-ordered; n_cand consistent") {
    val rows = LlmOps.hAnnFiltered(spark, graft.SparkSpec.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val labels = graft.Tables.load(spark, graft.SparkSpec.sf0001, "embeddings")
      .selectExpr("vec_id", "CAST(label AS LONG)").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (q, ql, n, _, rnk, nc) =>
      assert(labels(q) == ql, s"query $q: reported label differs from the table")
      assert(labels(n) == ql, s"query $q: neighbor $n violates the label filter")
      assert(n != q && rnk >= 1 && rnk <= 3 && nc >= rnk,
        s"query $q: rank/candidate accounting inconsistent")
    }
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_._5)
      assert(byRank.map(_._5).toSeq == (1L to byRank.length).toSeq, s"query $q ranks gapless")
      // descending cosine with the (cosine DESC, n_id) tie rule
      byRank.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3), s"query $q rank order broken")
        case _ => ()
      }
      assert(rs.map(_._6).distinct.length == 1, s"query $q: n_cand must be constant per query")
    }
  }

  test("h_knn_graph: per-cell rates recompute exactly from a full Scala kNN referee") {
    val rows = LlmOps.hKnnGraph(spark, graft.SparkSpec.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    val vecs = graft.Tables.load(spark, graft.SparkSpec.sf0001, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE))",
        "CAST(label AS LONG)").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val seeds = vecs.filter(_._1 < 16)
    val cellOf = vecs.map { case (id, v, _) =>
      id -> seeds.map { case (cid, cv, _) => (-cos(v, cv), cid) }.min._2
    }.toMap
    val byCell = vecs.groupBy { case (id, _, _) => cellOf(id) }
    // directed 3-NN within each cell, ties by neighbor id
    val edges = byCell.values.flatten.flatMap { case (a, av, al) =>
      byCell(cellOf(a)).filter(_._1 != a)
        .map { case (b, bv, bl) => (-cos(av, bv), b, bl) }
        .sorted.take(3)
        .map { case (_, b, bl) => (cellOf(a), a, b, al, bl) }
    }.toSet
    val expected = edges.groupBy(_._1).toSeq.map { case (c, es) =>
      val dir = es.map { case (_, a, b, _, _) => (a, b) }
      val mutual = dir.count { case (a, b) => dir.contains((b, a)) }.toLong
      val homo = es.count { case (_, _, _, la, lb) => la == lb }.toLong
      (c, byCell(c).length.toLong, es.size.toLong,
        1000L * mutual / es.size, 1000L * homo / es.size)
    }.sortBy(_._1)
    assert(rows.toSeq == expected, "kNN graph census diverged from the referee")
    rows.foreach { case (_, nNodes, nEdges, mut, homo) =>
      assert(nEdges <= 3 * nNodes, "more than k edges per node")
      assert(mut >= 0 && mut <= 1000 && homo >= 0 && homo <= 1000)
    }
    // singleton cells emit no edges (and so no row); the censused cells
    // can never exceed the corpus
    assert(rows.map(_._2).sum <= vecs.length.toLong,
      "cell census exceeds the corpus")
  }

  test("h_dedup_impact: the replay-ingest accounting recomputes exactly; exact dedup loses zero vocabulary") {
    val rows = LlmOps.hDedupImpact(spark, graft.SparkSpec.sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))).toMap
    assert(rows.nonEmpty)
    val docs = graft.Tables.load(spark, graft.SparkSpec.sf0001, "documents")
      .selectExpr("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    docs.groupBy(_._2).foreach { case (lang, ds) =>
      val replayed = ds.count(_._1 % 3 == 0).toLong
      val nDocs = ds.length.toLong + replayed
      // survivors: one keeper per distinct text of the ingest corpus —
      // the replayed copies (and any pre-existing exact dups) collapse
      val kept = ds.map(_._3).distinct.length.toLong
      val toks = ds.map(_._3.split(' ').length.toLong).sum +
        ds.filter(_._1 % 3 == 0).map(_._3.split(' ').length.toLong).sum
      val toksKept = ds.map(_._3).distinct.map(_.split(' ').length.toLong).sum
      val vocab = ds.flatMap(_._3.split(' ')).distinct.length.toLong
      val (gn, gk, gdm, gt, gtk, gtm, gv, gvl) = rows(lang)
      assert(gn == nDocs && gk == kept, s"$lang doc census")
      assert(gdm == 1000L * (nDocs - kept) / nDocs, s"$lang removed milli")
      assert(gt == toks && gtk == toksKept, s"$lang token accounting")
      assert(gtm == 1000L * (toks - toksKept) / toks, s"$lang token milli")
      assert(gv == vocab, s"$lang vocabulary size")
      // the structural invariant: exact dedup can never lose a term —
      // every removed doc's text survives verbatim in its keeper
      assert(gvl == 0L, s"$lang: exact dedup lost $gvl terms — survivor rule broken")
    }
  }

  test("h_oov_curve: every rung recomputes exactly from the term-frequency referee") {
    val rows = LlmOps.hOovCurve(spark, graft.SparkSpec.sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(rows.nonEmpty)
    val toks = graft.Tables.load(spark, graft.SparkSpec.sf0001, "documents")
      .selectExpr("lang", "text").collect()
      .flatMap(r => r.getString(1).split(' ').map(t => (r.getString(0), t)))
    toks.groupBy(_._1).foreach { case (lang, ts) =>
      val counts = ts.groupBy(_._2).view.mapValues(_.length.toLong).toSeq
        .sortBy { case (t, n) => (-n, t) }
      val total = counts.map(_._2).sum
      for (k <- Seq(8L, 16L, 32L)) {
        val oovTerms = counts.drop(k.toInt)
        val oov = oovTerms.map(_._2).sum
        val (v, nt, tt, ot, om) = rows((lang, k))
        assert(v == counts.length.toLong && nt == oovTerms.length.toLong,
          s"$lang k=$k vocab census")
        assert(tt == total && ot == oov && om == 1000L * oov / total,
          s"$lang k=$k token accounting")
      }
      // the curve is non-increasing in k (a bigger vocab never adds OOV)
      val curve = Seq(8L, 16L, 32L).map(k => rows((lang, k))._5)
      assert(curve.zip(curve.tail).forall { case (a, b) => a >= b },
        s"$lang: OOV curve increased with vocab size: $curve")
    }
  }

  test("h_hnsw_audit: beam search lands inside the exact ranking at bounded cost") {
    val rows = LlmOps.hHnswAudit(spark, graft.SparkSpec.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getLong(5), r.getLong(6)))
    assert(rows.length == 20, s"20-query panel, got ${rows.length}")
    val n = spark.read.parquet(s"${graft.SparkSpec.sf0001}/embeddings.parquet").count()
    rows.foreach { case (q, entry, found, truth, hit, rank, expanded) =>
      assert(q >= 100 && q < 120)
      assert(entry >= 0 && entry < 16, s"q$q entry $entry is not a seed")
      assert(entry != q && found != q && truth != q, s"q$q self-retrieval")
      assert(rank >= 1 && rank <= n - 1, s"q$q rank $rank")
      assert(hit == (found == truth), s"q$q top1_match inconsistent")
      if (hit) assert(rank == 1, s"q$q matched top-1 but rank $rank")
      // the audit's point: beam cost is a small fraction of brute N-1
      assert(expanded >= 1 && expanded < n / 2, s"q$q expanded $expanded of $n")
    }
    // the graph must be navigable enough to be worth serving: median
    // found-rank within the exact top-2% of the corpus
    val med = rows.map(_._6).sorted.apply(rows.length / 2)
    assert(med <= n / 50, s"median found_rank $med vs n=$n - graph not navigable")
  }

  test("h_ivf_insert: list balance conserves both waves and cross-pins the staleness audit's membership") {
    val sf = graft.SparkSpec.sf0001
    val rows = LlmOps.hIvfInsert(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0L until 16L), "one row per standing list")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val nEven = emb.filter("vec_id % 2 = 0").count()
    val nOdd = emb.filter("vec_id % 2 = 1").count()
    assert(rows.map(_._2).sum == nEven, "standing members must conserve the even wave")
    assert(rows.map(_._3).sum == nOdd, "inserted members must conserve the odd wave")
    val tb = rows.map(_._2).sum; val ta = tb + rows.map(_._3).sum
    rows.foreach { case (c, nb, ni, sb, sa, drift, overfull) =>
      assert(sb == 1000L * nb / tb && sa == 1000L * (nb + ni) / ta, s"list $c shares")
      assert(drift == sa - sb, s"list $c drift")
      assert(overfull == (16L * (nb + ni) > 2L * ta), s"list $c overfull flag")
    }
    // cross-pin: the no-recompute insert sees the SAME membership the
    // staleness audit reports (same shipped centroids, same assignment rule)
    val audit = LlmOps.hIvfStaleness(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(r => (r._1, r._2, r._3)).toSeq == audit.toSeq,
      "insert-path membership diverged from the staleness audit")
  }
}
