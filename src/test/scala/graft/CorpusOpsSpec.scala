package graft

import org.apache.spark.sql.functions._

import graft.queries.CorpusOps

/** Invariants for the corpus-construction operators (q56-q59) that the
  * DuckDB oracle can't express: ranking structure, sampling monotonicity,
  * benchmark exclusion, shard density/determinism.
  */
class CorpusOpsSpec extends SparkTestBase {

  test("q56 BM25: dense ranks per term, scores positive and non-increasing") {
    val rows = CorpusOps.q56Bm25(spark, sfDir)
      .select("token", "rk", "doc_id", "score").collect()
    assert(rows.nonEmpty)
    val byTerm = rows.groupBy(_.getAs[String]("token"))
    assert(byTerm.keySet == Set("vector", "merge", "stream"))
    byTerm.foreach { case (term, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to sorted.length).toSeq,
        s"$term ranks must be dense from 1")
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.forall(s => s > 0.0 && s.isFinite), s"$term scores must be positive")
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"$term scores must be non-increasing in rank")
    }
  }

  test("q56 BM25: matches a direct in-memory recomputation of the rational-core formula") {
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("t").trim.split("\\s+").filter(_.nonEmpty).toSeq).toMap
    val n = docs.size.toLong
    val tTotal = docs.values.map(_.length.toLong).sum
    val expected = Seq("merge", "stream", "vector").flatMap { term =>
      val fs = docs.view.mapValues(_.count(_ == term).toLong).filter(_._2 > 0).toMap
      val nT = fs.size.toLong
      fs.toSeq.map { case (id, f) =>
        val dl = docs(id).length.toLong
        val num = 44L * f * tTotal * (2L * (n - nT) + 1L)
        val den = (20L * f * tTotal + 6L * tTotal + 18L * dl * n) * (2L * nT + 1L)
        (term, id, num.toDouble / den.toDouble)
      }.sortBy { case (_, id, s) => (-s, id) }.take(10).zipWithIndex
        .map { case ((tm, id, s), i) => (tm, (i + 1).toLong, id, s) }
    }
    val actual = CorpusOps.q56Bm25(spark, sfDir).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("rk"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
    assert(actual == expected)
  }

  test("q242 phrase search equals a driver-side sliding-window scan; repeated-term slots keyed on idx") {
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("t").trim.split("\\s+").filter(_.nonEmpty).toSeq).toMap
    val expected = CorpusOps.Q242Phrases.flatMap { ph =>
      val ts = ph.split(" ").toSeq
      docs.toSeq.flatMap { case (id, toks) =>
        val starts = (0 to toks.length - ts.length)
          .filter(s => ts.indices.forall(i => toks(s + i) == ts(i)))
        // operator positions are 1-based
        if (starts.isEmpty) None
        else Some((ph, id, starts.length.toLong, (starts.min + 1).toLong))
      }
    }.sortBy(x => (x._1, x._2))
    assert(expected.nonEmpty, "fixture must contain both phrases")
    // the repeated-term phrase must appear: 'table table' matches only where
    // the token occurs at BOTH slots — a single occurrence must not count
    assert(expected.exists(_._1 == "table table"))
    val got = CorpusOps.q242PhraseSearch(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
  }

  test("q244 proximity pairs: banded join equals a brute all-pairs position scan") {
    val w = CorpusOps.Q244Window
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("t").trim.split("\\s+").filter(_.nonEmpty).toSeq).toMap
    val terms = CorpusOps.Q244Terms
    val expected = docs.toSeq.flatMap { case (id, toks) =>
      val ps = toks.zipWithIndex.collect {
        case (t, i) if terms.contains(t) => (t, i + 1)
      }
      for {
        (ta, pa) <- ps; (tb, pb) <- ps
        if ta < tb && math.abs(pa - pb) <= w
      } yield ((ta, tb, id), math.abs(pa - pb).toLong)
    }.groupBy(_._1).map { case ((ta, tb, id), vs) =>
      (ta, tb, id, vs.size.toLong, vs.map(_._2).min)
    }.toSeq.sortBy(x => (x._1, x._2, x._3))
    assert(expected.nonEmpty, "fixture must contain proximal query-term pairs")
    val got = CorpusOps.q244ProximityPairs(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected)
  }

  test("q247 WAND top-k: pruned result equals brute full scoring; the prune is load-bearing") {
    // brute: score EVERY candidate doc in memory with the same quantized
    // impact arithmetic and take the top-K
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("t").trim.split("\\s+").filter(_.nonEmpty).toSeq).toMap
    val terms = Seq("vector", "merge", "stream")
    val n = docs.size.toLong
    val tTot = docs.values.map(_.length.toLong).sum
    val dfT = terms.map(t => t -> docs.values.count(_.contains(t)).toLong).toMap
    def impact(f: Long, dl: Long, nT: Long): Long =
      math.floor((44L * f * tTot * (2L * (n - nT) + 1L)).toDouble /
        ((20L * f * tTot + 6L * tTot + 18L * dl * n) * (2L * nT + 1L)).toDouble
        * 1e12).toLong
    val brute = docs.toSeq.flatMap { case (id, toks) =>
      val qs = terms.flatMap { t =>
        val f = toks.count(_ == t).toLong
        if (f == 0) None else Some(impact(f, toks.length.toLong, dfT(t)))
      }
      if (qs.isEmpty) None else Some((id, qs.sum, qs.size.toLong))
    }.sortBy { case (id, s, _) => (-s, id) }.take(CorpusOps.Q247K)
      .zipWithIndex.map { case ((id, s, nt), i) => (i + 1L, id, s, nt) }
    val got = CorpusOps.q247WandTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == brute, s"pruned top-k must equal brute:\ngot   $got\nbrute $brute")
    // the prune is load-bearing: strictly fewer docs survive the
    // upper-bound gate than match the query at all (if this ever fails,
    // θ stopped cutting and q247 is brute with extra steps)
    val candidates = docs.count { case (_, toks) => terms.exists(toks.contains) }
    val tf = graft.queries.CorpusOps.q247SurvivorCount(spark, sfDir)
    assert(tf < candidates,
      s"expected the ub gate to prune: $tf survivors of $candidates candidates")
  }

  test("q253 batch WAND: the shared query's slice equals q247's single-query output; " +
      "the per-query prune is load-bearing") {
    // a fleet containing BOTH the derived queries and q247's literal
    // query — per-query θ/df/ub must be independent of the other queries
    val shared = 100000L
    val extra = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq("vector", "merge", "stream").map(t =>
          org.apache.spark.sql.Row(shared, t)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("term",
          org.apache.spark.sql.types.StringType))))
    val fleet = CorpusOps.q253Queries(spark, sfDir).unionByName(extra)
    val (survivors, topk) = CorpusOps.wandTopKBatch(spark, sfDir, fleet)
    val sharedSlice = topk.filter(col("query_id") === shared)
      .select(col("rk"), col("doc_id"), col("score"), col("n_terms"))
      .orderBy(col("rk")).collect().toSeq
    val single = CorpusOps.q247WandTopK(spark, sfDir).collect().toSeq
    assert(sharedSlice == single,
      s"batch slice must equal the single-query ranking:\n$sharedSlice\n$single")
    // prune effectiveness on the QUERY axis: strictly fewer (query, doc)
    // pairs survive the ub gate than match any query term at all
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("t").trim.split("\\s+").filter(_.nonEmpty).toSet).toMap
    val qterms = fleet.collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (q, ts) => q -> ts.map(_._2).toSet }
    val candidates = qterms.toSeq.map { case (_, ts) =>
      docs.count { case (_, toks) => ts.exists(toks.contains) }.toLong
    }.sum
    val surv = survivors.count()
    assert(surv < candidates,
      s"expected the batch ub gate to prune: $surv survivors of $candidates candidate pairs")
    // the fleet itself is fleet-sized: >= 100 distinct queries scored
    assert(topk.select(col("query_id")).distinct().count() >= 100L)
  }

  test("q253 fleet after a store append equals the store-off path: stale maxscore is never read") {
    import graft.table.StoreManifest
    // a private corpus C with its own store; then batch B is appended to
    // BOTH the corpus and the store and the corpus fingerprint re-pinned
    // (an incremental ingest): postings/ index C + B, maxscore/ still
    // holds C's document frequencies
    val d = java.nio.file.Files.createTempDirectory("graft-stale-maxscore").toString
    val c = Tables(spark, sfDir, "documents")
    c.write.parquet(s"$d/documents.parquet")
    CorpusOps.writeLexStore(spark, d)
    val store = CorpusOps.lexStorePathFor(d)
    val maxId = c.agg(max(col("doc_id"))).head().getLong(0)
    val b = c.withColumn("doc_id", col("doc_id") + lit(maxId + 1))
      .withColumn("text", concat(lit("zzstale zzstale "), col("text")))
    b.write.mode("append").parquet(s"$d/documents.parquet")
    CorpusOps.appendLexStore(b, store)
    val corpus = Some(s"$d/documents.parquet")
    StoreManifest.bump(store, Nil, corpus = corpus)
    assert(StoreManifest.servable(store, "postings", corpus).isDefined,
      "the appended store must still be trusted for postings/")
    assert(StoreManifest.servable(store, "maxscore", corpus).isEmpty)
    def fleet() = CorpusOps.q253Queries(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val served = fleet()
    CorpusOps.lexStoreEnabled = false
    val cold = try fleet() finally CorpusOps.lexStoreEnabled = true
    assert(served.nonEmpty && served == cold,
      "the fleet must rank the vocabulary by the CURRENT document frequencies")
  }

  test("q257 fleet eval: per-query metrics are internally exact and match a " +
      "brute per-query recomputation") {
    val rows = CorpusOps.q257FleetEval(spark, sfDir).collect()
    assert(rows.length >= 100, "the fleet scorecard must be fleet-sized")
    for (r <- rows) {
      val (k, hits, nrel) = (r.getAs[Long]("k"), r.getAs[Long]("hits_at_k"), r.getAs[Long]("n_rel"))
      assert(hits <= math.min(k, nrel), s"hits bounded by k and n_rel: $r")
      assert(r.getAs[Double]("p_at_k") == hits.toDouble / k.toDouble)
      assert(r.getAs[Double]("r_at_k") ==
        (if (nrel > 0) hits.toDouble / nrel.toDouble else 0.0))
    }
    // brute recomputation of n_rel and hits for every query from the raw text
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("t").trim.split("\\s+").filter(_.nonEmpty).toSet).toMap
    val qterms = CorpusOps.q253Queries(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (q, ts) => q -> ts.map(_._2).toSet }
    val topk = CorpusOps.q253WandBatch(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("n_terms")))
      .groupBy(_._1)
    for (r <- rows) {
      val q = r.getAs[Long]("query_id")
      val expectedNrel = docs.count { case (_, toks) =>
        qterms(q).count(toks.contains) >= 2 }.toLong
      assert(r.getAs[Long]("n_rel") == expectedNrel, s"n_rel mismatch for query $q")
      val expectedHits = topk(q).count(_._2 >= 2).toLong
      assert(r.getAs[Long]("hits_at_k") == expectedHits, s"hits mismatch for query $q")
    }
  }

  test("q258 fleet snippets: every row equals an independent two-pointer " +
      "minimum-covering-window; coverage is exactly the full-match ranked docs") {
    val rows = CorpusOps.q258FleetSnippets(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("t").trim.split("\\s+").filter(_.nonEmpty)).toMap
    val qterms = CorpusOps.q253Queries(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (q, ts) => q -> ts.map(_._2).toSet }
    // independent imperative check: classic two-pointer minimal window,
    // lexicographic (span, start) best
    def brute(toks: Array[String], need: Set[String]): Option[(Long, Long)] = {
      val counts = scala.collection.mutable.Map.empty[String, Int]
      var covered = 0
      var best: Option[(Long, Long)] = None
      var l = 0
      for (r <- toks.indices) {
        val t = toks(r)
        if (need(t)) {
          counts(t) = counts.getOrElse(t, 0) + 1
          if (counts(t) == 1) covered += 1
        }
        while (covered == need.size) {
          val cand = ((r - l + 1).toLong, (l + 1).toLong)
          if (best.forall(b => cand._1 < b._1 || (cand._1 == b._1 && cand._2 < b._2)))
            best = Some(cand)
          val lt = toks(l)
          if (need(lt)) { counts(lt) -= 1; if (counts(lt) == 0) covered -= 1 }
          l += 1
        }
      }
      best
    }
    for (r <- rows) {
      val (q, d) = (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"))
      val expected = brute(docs(d), qterms(q))
      assert(expected.contains((r.getAs[Long]("span_len"), r.getAs[Long]("span_start"))),
        s"window mismatch for query $q doc $d: got " +
          s"(${r.getAs[Long]("span_len")}, ${r.getAs[Long]("span_start")}), expected $expected")
    }
    // completeness: exactly the ranked docs matching ALL their query's terms
    val ranked = CorpusOps.q253WandBatch(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")))
    val expectedPairs = ranked.filter { case (q, d) =>
      qterms(q).forall(docs(d).toSet.contains) }.toSet
    assert(rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"))).toSet ==
      expectedPairs)
  }

  test("q252 snippet spans equal a brute minimum-covering-window scan over the ranked docs") {
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("t").trim.split("\\s+").filter(_.nonEmpty).toSeq).toMap
    val terms = Seq("vector", "merge", "stream")
    val got = CorpusOps.q252SnippetSpans(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    got.foreach { case (_, id, spanLen, spanStart) =>
      val toks = docs(id)
      val occ = terms.map(t =>
        toks.zipWithIndex.collect { case (tok, i) if tok == t => (i + 1).toLong })
      assert(occ.forall(_.nonEmpty), s"doc $id must contain all terms")
      val combos = for (a <- occ(0); b <- occ(1); c <- occ(2))
        yield (Seq(a, b, c).max - Seq(a, b, c).min + 1, Seq(a, b, c).min)
      val best = combos.min // lexicographic: min span, then earliest start
      assert((spanLen, spanStart) == best,
        s"doc $id: got ($spanLen, $spanStart), brute $best")
    }
  }

  test("q57 temperature sampling: caps dominant languages, passes small ones whole") {
    val rows = CorpusOps.q57TemperatureSample(spark, sfDir).collect()
    val byLang = rows.map(r => r.getAs[String]("lang") ->
      ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"), r.getAs[Double]("p_keep")))).toMap
    assert(byLang.nonEmpty)
    byLang.foreach { case (lang, (n, kept, p)) =>
      assert(kept <= n, s"$lang kept more than it has")
      if (n <= 100) {
        assert(p == 1.0, s"$lang under cap must keep everything (p=$p)")
        assert(kept == n, s"$lang under cap must keep all $n docs, kept $kept")
      } else {
        assert(p < 1.0, s"$lang over cap must be downsampled (p=$p)")
        assert(kept < n, s"$lang over cap must drop something")
        // sampling noise bound: expected kept = n*p, hash family is uniform;
        // allow 5 sigma of Binomial(n, p)
        val expect = n * p
        val sigma = math.sqrt(n * p * (1 - p))
        assert(math.abs(kept - expect) <= 5 * sigma + 1,
          s"$lang kept=$kept far from expectation $expect")
      }
    }
    // en dominates every fixture scale; it must be the downsampled one
    assert(byLang("en")._3 < 1.0, "en must be over the cap in the fixture")
  }

  test("q57 sampling membership is recomputable from doc_id alone") {
    // run twice; the kept counts must be bit-identical (no RNG state)
    val a = CorpusOps.q57TemperatureSample(spark, sfDir).collect().map(_.toSeq).toSeq
    val b = CorpusOps.q57TemperatureSample(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("q58 decontamination: never flags benchmark docs, every hit count positive") {
    val rows = CorpusOps.q58Decontaminate(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 37 != 0, "benchmark docs are not corpus docs")
      assert(r.getAs[Long]("n_hits") >= 1)
    }
    // the fixture plants near-duplicate docs: at least one corpus doc must
    // share many (>5) benchmark shingles, not just singleton collisions
    assert(rows.exists(_.getAs[Long]("n_hits") > 5),
      "planted near-dups of benchmark docs must surface with high overlap")
  }

  test("q59 shard export: dense positions per shard, conservation, run-to-run determinism") {
    val rows = CorpusOps.q59ShardExport(spark, sfDir).collect()
    val total = Tables(spark, sfDir, "documents").count()
    assert(rows.length.toLong == total, "every doc gets exactly one (shard, pos)")
    val shards = rows.map(_.getAs[Long]("shard")).distinct
    assert(shards.forall(s => s >= 0 && s < 16))
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (s, rs) =>
      val ps = rs.map(_.getAs[Long]("pos")).sorted.toSeq
      assert(ps == (1L to ps.length).toSeq, s"shard $s positions must be dense from 1")
    }
    // assignment is a pure function of doc_id — a rerun (fresh shuffles,
    // fresh task scheduling) must yield the identical export order
    val again = CorpusOps.q59ShardExport(spark, sfDir).collect()
    assert(again.map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq)
  }

  test("q59 shard occupancy is hash-uniform (no shard more than 3x the mean)") {
    val occ = CorpusOps.q59ShardExport(spark, sfDir).groupBy("shard").count().collect()
      .map(_.getAs[Long]("count"))
    val mean = occ.sum.toDouble / occ.length
    assert(occ.forall(_ <= 3 * mean), s"skewed shard occupancy: ${occ.mkString(",")}")
  }

  test("q67 k-means step: conservation, per-cluster consistency, bit-exact reruns") {
    val rows = graft.queries.Similarity.q67KmeansStep(spark, sfDir).collect()
    val nVecs = Tables(spark, sfDir, "embeddings").count()
    val labels = Tables(spark, sfDir, "embeddings").select("label").distinct()
      .collect().map(_.getInt(0)).toSet
    val byCluster = rows.groupBy(_.getAs[Int]("cluster"))
    assert(byCluster.keySet.subsetOf(labels), "clusters come from the seed label set")
    byCluster.foreach { case (c, rs) =>
      assert(rs.map(_.getAs[Long]("pos")).sorted.toSeq == (1L to 64L), s"cluster $c covers all 64 dims")
      assert(rs.map(_.getAs[Long]("n_vecs")).distinct.length == 1,
        s"cluster $c member count must be identical across dims")
    }
    val sizes = byCluster.values.map(_.head.getAs[Long]("n_vecs")).sum
    assert(sizes == nVecs, "every vector lands in exactly one cluster")
    // the determinism claim: integral-valued double sums are exact in any
    // aggregation order, so a rerun (fresh partial-agg schedule) is
    // bit-identical
    val again = graft.queries.Similarity.q67KmeansStep(spark, sfDir).collect()
    assert(again.map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq)
  }

  test("q69 PQ search: dense ranks, above-random recall vs the exact baseline") {
    val pq = graft.queries.Similarity.q69PqSearch(spark, sfDir).collect()
    val exact = graft.queries.Similarity.q50KnnBrute(spark, sfDir).collect()
    val byQ = pq.groupBy(_.getAs[Long]("query_id"))
    byQ.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to sorted.length).toSeq,
        s"query $q ranks must be dense")
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"query $q approx scores must be non-increasing")
      assert(!rs.exists(_.getAs[Long]("neighbor_id") == q), "self never returned")
    }
    // ADC over 10 coarse codes per subspace on this fixture's
    // near-orthogonal vectors: recall is structurally modest; the gate is
    // way-above-random (random top-5 of ~500 ~= 0.01)
    val exactByQ = exact.groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    val recalls = exactByQ.map { case (q, ex) =>
      val got = byQ.getOrElse(q, Array.empty).map(_.getAs[Long]("neighbor_id")).toSet
      (ex intersect got).size.toDouble / ex.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg > 0.03, s"PQ recall $avg must beat the random baseline by >3x")
  }

  test("q98 semantic dedup: pairs stay inside their cluster, ranks dense, cosines non-increasing") {
    val rows = graft.queries.Dedup.q98SemanticDedup(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // cluster membership per the engine's own assignment (q52 restated)
    val assign = graft.queries.Similarity.q52IvfAssign(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("assigned_label")).toMap
    rows.foreach { r =>
      val c = r.getAs[Int]("cluster")
      assert(assign(r.getAs[Long]("id_a")) == c && assign(r.getAs[Long]("id_b")) == c,
        "both pair members must be assigned to the pair's cluster")
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
    }
    rows.groupBy(_.getAs[Int]("cluster")).foreach { case (c, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to sorted.length).toSeq,
        s"cluster $c ranks must be dense")
      val cs = sorted.map(_.getAs[Double]("cosine"))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y },
        s"cluster $c cosines must be non-increasing")
    }
  }

  test("q100 CDC chunking: shift-invariant — an edit re-aligns chunks at the next boundary") {
    val s = spark
    import s.implicits._
    val base = (0 until 160).map(i => s"w$i").mkString(" ")
    val edited = "inserted tokens here " + base
    val docs = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val chunks = graft.queries.TrainPrep.cdcChunks(docs).collect()
    val fp1 = chunks.filter(_.getAs[Long]("doc_id") == 1L).map(_.getAs[String]("chunk_md5"))
    val fp2 = chunks.filter(_.getAs[Long]("doc_id") == 2L).map(_.getAs[String]("chunk_md5"))
    assert(fp1.length > 2 && fp2.length > 2, "fixture must produce several chunks")
    // content-defined boundaries: after the first boundary PAST the edit,
    // every original chunk reappears verbatim in the edited doc — the
    // dedup-robustness property a fixed stride cannot give
    val shared = fp1.toSet intersect fp2.toSet
    assert(shared.size >= fp1.length - 2,
      s"all but the chunks touching the edit must re-align: shared ${shared.size} of ${fp1.length}")
    // and the fixed-stride idiom on the same pair does NOT have it (q48
    // geometry: every downstream chunk shifts) — guard that CDC is actually
    // adding something beyond q48
    val conserved = chunks.filter(_.getAs[Long]("doc_id") == 1L).map(_.getAs[Long]("n_tokens")).sum
    assert(conserved == base.trim.split("\\s+").length.toLong, "token conservation per doc")
  }

  test("q101 triangles: K4 + pendant path — exact counts and clustering coefficients") {
    val s = spark
    import s.implicits._
    // K4 on {1,2,3,4} (every node in 3 triangles, lcc 1) plus the path
    // 4-5-6 (5 and 6 in no triangle; 4's lcc drops to 3 of C(4,2)=6 wedges)
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("id_a", "id_b")
    val rows = graft.queries.GraphOps.triangleStats(edges).collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("degree"), r.getAs[Long]("triangles"), r.getAs[Double]("lcc")))).toMap
    assert(byId(1L) == ((3L, 3L, 1.0)) && byId(2L) == ((3L, 3L, 1.0)) && byId(3L) == ((3L, 3L, 1.0)))
    assert(byId(4L) == ((4L, 3L, 0.5)), "node 4: 3 triangles over C(4,2)=6 wedges")
    assert(byId(5L) == ((2L, 0L, 0.0)) && byId(6L) == ((1L, 0L, 0.0)))
    assert(rows.map(_.getAs[Long]("triangles")).sum == 12L, "4 triangles x 3 incidences")
  }

  test("q104 pagerank: K4 + pendant path — exact micro-ranks match the hand-rolled iteration") {
    val s = spark
    import s.implicits._
    // Same graph as the triangle test. Expected values are the 3-step
    // integer power iteration computed by hand: r(v) = 150000 +
    // sum((r(u)*85) div (100*deg(u))) from r0 = 10^6 — symmetric K4 nodes
    // tie, the hub (4) leads, the pendant tail (6) trails, and floor
    // losses keep total mass just under 6 * 10^6.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("id_a", "id_b")
    val rows = graft.queries.GraphOps.pagerankStats(edges).collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank_micro")).toMap
    val expected = Map(1L -> 1014166L, 2L -> 1014166L, 3L -> 1014166L,
      4L -> 1382600L, 5L -> 1024723L, 6L -> 550163L)
    assert(byId == expected, s"exact integer ranks: $byId")
    // determinism across partitionings: the integral arithmetic makes the
    // result independent of how partial sums are scheduled
    val re = graft.queries.GraphOps.pagerankStats(edges.repartition(7)).collect()
    assert(re.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank_micro")).toMap == expected)
    rows.foreach { r =>
      assert(r.getAs[Double]("rank") == r.getAs[Long]("rank_micro") / 1e6)
    }
  }

  test("q102 collocations: an always-adjacent pair tops the list, lift matches the closed form") {
    val s = spark
    import s.implicits._
    // "alpha beta" always adjacent (6x), filler tokens all distinct; the
    // pair's lift = n_ab*N^2 / (n_bg*n_a*n_b) with every count known
    val docs = (0 until 6).map(i => (i.toLong, s"alpha beta f${i}a f${i}b f${i}c")).toDF("doc_id", "text")
    val rows = graft.queries.TextOps.collocations(docs).collect()
    val top = rows.head
    assert((top.getAs[String]("t1"), top.getAs[String]("t2")) == (("alpha", "beta")))
    assert(top.getAs[Long]("n_ab") == 6L)
    val n = 30.0; val nBg = 24.0
    assert(top.getAs[Double]("lift") == 6.0 * n * n / (nBg * 6.0 * 6.0),
      "lift must equal the closed-form count ratio")
    assert(rows.length == 1, "every other bigram is below the min-count cut")
  }

  test("fleetArtifacts: q257/q258 served from ONE materialized ranking equal " +
      "their cold re-derivations row for row") {
    CorpusOps.writeLexStore(spark, sfDir)
    val out = java.nio.file.Files.createTempDirectory("graft_fleet_art").toString + "/fleet"
    CorpusOps.fleetArtifacts(spark, sfDir, out)
    // the artifacts themselves: one queries frame, one ranked frame
    assert(spark.read.parquet(s"$out/queries").columns.toSet == Set("query_id", "term"))
    assert(spark.read.parquet(s"$out/topk").columns.toSet ==
      Set("query_id", "rk", "doc_id", "score", "n_terms"))
    // scorecard + snippets off the SHARED frame vs their cold paths —
    // byte-identical results, so production can pay the fleet DAG once
    val evalCold = CorpusOps.q257FleetEval(spark, sfDir).collect().toSeq
    val evalFrom = CorpusOps.q257FleetEvalFrom(spark, sfDir, out).collect().toSeq
    assert(evalFrom == evalCold, "stored-ranking scorecard must equal the cold one")
    val snipCold = CorpusOps.q258FleetSnippets(spark, sfDir).collect().toSeq
    val snipFrom = CorpusOps.q258FleetSnippetsFrom(spark, sfDir, out).collect().toSeq
    assert(snipFrom == snipCold, "stored-ranking snippets must equal the cold ones")
    // and the stored variants genuinely skip the fleet derivation: the
    // ranked frame comes off the artifact parquet, and no ranking window
    // (seed θ / rk row_number) survives in the plan
    val from = CorpusOps.q257FleetEvalFrom(spark, sfDir, out)
    assert(from.inputFiles.exists(_.contains("/topk")),
      "the ranked frame must come off disk")
    assert(!from.queryExecution.optimizedPlan.toString.contains("Window"),
      "the stored-ranking path must not re-run the fleet ranking windows")
    // q262 (page text, the heaviest bench row) also has a production
    // shape off the same one ranking
    val textCold = CorpusOps.q262FleetSnippetText(spark, sfDir).collect().toSeq
    val textFrom = CorpusOps.q262FleetSnippetTextFrom(spark, sfDir, out)
      .collect().toSeq
    assert(textFrom == textCold, "stored-ranking page text must equal the cold one")
    // STALENESS REFUSAL: artifacts pinned to a different corpus
    // fingerprint must refuse, not silently rank yesterday's corpus
    val stale = java.nio.file.Files.createTempDirectory("graft_fleet_stale")
      .toString + "/fleet"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(out), new java.io.File(stale))
    graft.table.StoreManifest.bump(stale, Nil,
      corpus = Some(s"$sfDir/embeddings.parquet"))
    val e = intercept[IllegalArgumentException] {
      CorpusOps.q262FleetSnippetTextFrom(spark, sfDir, stale)
    }
    assert(e.getMessage.contains("STALE"), e.getMessage)
  }

  test("q68 incremental dedup: new-vs-existing split respected, one best match per new doc") {
    val rows = graft.queries.Dedup.q68IncrementalDedup(spark, sfDir).collect()
    assert(rows.nonEmpty, "the fixture's planted near-dups must cross the batch split")
    rows.foreach { r =>
      assert(r.getAs[Long]("new_id") % 3 == 0, "left side must be from the new batch")
      assert(r.getAs[Long]("existing_id") % 3 != 0, "right side must be from the existing corpus")
      assert(r.getAs[Double]("est_jaccard") >= 0.5)
    }
    val ids = rows.map(_.getAs[Long]("new_id"))
    assert(ids.distinct.length == ids.length, "exactly one best match per new doc")
    // every reported match must exist in the full candidate set with the
    // same estimate (incremental = restriction of the batch pipeline, never
    // new pairs)
    val cands = graft.queries.Dedup.minhashCandidates(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("est_jaccard"))
      .toMap
    rows.foreach { r =>
      val a = math.min(r.getAs[Long]("new_id"), r.getAs[Long]("existing_id"))
      val b = math.max(r.getAs[Long]("new_id"), r.getAs[Long]("existing_id"))
      assert(cands.get((a, b)).contains(r.getAs[Double]("est_jaccard")),
        s"match ($a, $b) must come from the shared candidate machinery")
    }
  }

  test("q162 hybrid RRF: full depth per query, fused score monotone, bounded by the two-leg maximum") {
    import graft.queries.CorpusOps
    val rows = CorpusOps.q162HybridRrf(spark, sfDir).collect()
    val k = CorpusOps.Q162RrfK
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet == (0L until 10L).toSet, "every query doc must rank")
    val maxRrf = 2.0 / (k + 1)
    byQuery.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to CorpusOps.Q162TopK.toLong),
        s"query $q must emit exactly ranks 1..${CorpusOps.Q162TopK}")
      val scores = sorted.map(_.getAs[Double]("rrf_score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"query $q fused scores must be non-increasing down the list")
      assert(scores.forall(s => s > 0.0 && s <= maxRrf + 1e-12),
        s"query $q scores must lie in (0, 2/(k+1)]: ${scores.toSeq}")
      // the dense leg ranks the whole corpus, so every result doc is a real
      // corpus doc distinct from the query
      assert(sorted.forall(_.getAs[Long]("doc_id") != q))
    }
    // a doc that leads BOTH legs gets the maximum possible fused score and
    // must sit at rk 1 — check wherever the fixture produces one
    rows.filter(r => math.abs(r.getAs[Double]("rrf_score") - maxRrf) < 1e-12)
      .foreach(r => assert(r.getAs[Long]("rk") == 1L,
        s"double-leg leader must fuse to rank 1: $r"))
  }

  test("q190 drift: generations conserve the corpus, and a shifted clone maximally drifts") {
    import org.apache.spark.sql.functions._
    val rows = graft.queries.Similarity.q190EmbeddingDrift(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val total = Tables(spark, sfDir, "embeddings").count()
    assert(rows.map(r => r.getAs[Long]("n_ref") + r.getAs[Long]("n_cur")).sum == total,
      "every vector is in exactly one generation")
    // bound worst_pos by the fixture's actual dimensionality, not a literal
    val dim = Tables(spark, sfDir, "embeddings")
      .select(size(col("embedding"))).head().getInt(0).toLong
    rows.foreach { r =>
      assert(r.getAs[Long]("l1_drift_q") >= r.getAs[Long]("max_dim_drift_q"),
        "L1 over dims bounds the single worst dim")
      val wp = r.getAs[Long]("worst_pos")
      assert(wp >= 1L && wp <= dim)
    }
    // planted-drift sanity: a corpus where the odd generation is the even
    // one shifted by +0.5 in dim 1 must report dim 1 as worst, with the
    // quantized displacement ~0.5 * 2^20 (integer-division floor tolerance)
    val tmp = java.nio.file.Files.createTempDirectory("graft-drift").toString
    val base = Tables(spark, sfDir, "embeddings").filter(pmod(col("vec_id"), lit(2)) === 0)
    base.unionByName(
        base.select((col("vec_id") + 1).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, x + lit(0.5f)).otherwise(x)).as("embedding"),
          col("label")))
      .write.parquet(s"$tmp/embeddings.parquet")
    graft.queries.Similarity.q190EmbeddingDrift(spark, tmp).collect().foreach { r =>
      assert(r.getAs[Long]("worst_pos") == 1L, s"planted drift must surface in dim 1: $r")
      val d = r.getAs[Long]("max_dim_drift_q")
      assert(math.abs(d - 524288L) <= 2L, s"quantized displacement should be ~0.5*2^20: $d")
    }
  }

  test("q209 Kneser-Ney bits equal an exact BigInt rational recomputation, doc by doc") {
    // independent driver-side model build at sf0.001: same normalization,
    // same counts, bits from BigInt division — no shared Spark code path
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase
        .split("\\s+").filter(_.nonEmpty).toSeq).toMap
    val bigrams = docs.view.mapValues(t => t.zip(t.drop(1))).toMap
    val c2 = bigrams.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = c2.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n1l = c2.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val n1r = c2.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val ntot = c2.size.toLong
    def bits(b: (String, String)): Long = {
      val num = BigInt(4 * c2(b) - 3) * ntot + BigInt(3) * n1l(b._1) * n1r(b._2)
      val den = BigInt(4) * c1(b._1) * ntot
      (den / num).bitLength - 1L
    }
    val got = CorpusOps.q209KneserNey(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val bs = bigrams(id).map(bits)
      assert(r.getAs[Long]("n_bigrams") === bs.size.toLong, s"doc $id n_bigrams")
      assert(r.getAs[Long]("sum_bits") === bs.sum, s"doc $id sum_bits")
      assert(r.getAs[Long]("mean_mbits") === bs.sum * 1000L / bs.size, s"doc $id mean")
    }
    // every multi-token doc appears exactly once
    assert(got.map(_.getAs[Long]("doc_id")).toSet ===
      bigrams.filter(_._2.nonEmpty).keySet)
  }

  test("q209 KN mass identity: per left-context, seen mass + backoff mass = 1 exactly") {
    // Sigma_seen (4c2-3)/(4c1) + (3 n1l / 4c1) * (Sigma_all n1r / ntot) = 1:
    // verify the integer identity 4*c1 = Sigma_seen (4c2-3) + 3*n1l per w1,
    // and Sigma_w2 n1r(w2) = ntot — the two halves of the interpolation
    val docs = Tables(spark, sfDir, "documents")
      .select(col("text")).collect()
      .map(_.getString(0).toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq)
    val c2 = docs.flatMap(t => t.zip(t.drop(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val byW1 = c2.groupBy(_._1._1)
    byW1.foreach { case (w1, m) =>
      val c1 = m.values.sum
      assert(m.values.map(c => 4 * c - 3).sum + 3 * m.size === 4 * c1,
        s"KN interpolation mass must close for '$w1'")
    }
    val n1rSum = c2.groupBy(_._1._2).map(_._2.size.toLong).sum
    assert(n1rSum === c2.size.toLong, "continuation counts must sum to ntot")
  }
}
