package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables.load(spark, sf, "embeddings")
  private lazy val queries = emb.filter(col("vec_id") < 10)

  test("brute-force top-k: k rows per query, descending, no self-match") {
    val got = Similarity.bruteTopK(emb, queries, "embedding", "vec_id", k = 5).collect()
    assert(got.length === 50)
    val byQ = got.groupBy(_.getLong(0))
    assert(byQ.keySet === (0L until 10L).toSet)
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getDouble(2)).sliding(2).forall(p => p.head >= p.last))
      assert(sorted.forall(r => r.getLong(1) != r.getLong(0)))
    }
  }

  test("IVF top-k: self-recovery, ranked output, sane recall vs brute") {
    // query with exact corpus vectors: each query's own list is its
    // top probe, so rnk=1 must be a perfect-cosine match
    val got = Similarity.ivfTopK(emb, queries, "embedding", "vec_id", k = 5)
      .collect()
    val byQ = got.groupBy(_.getLong(0))
    assert(byQ.keySet === (0L until 10L).toSet)
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getDouble(2)).sliding(2).forall(p => p.head >= p.last))
      assert(sorted.forall(r => r.getLong(1) != r.getLong(0)))
    }
    val brute = Similarity.bruteTopK(emb, queries, "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfPairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivfPairs).size.toDouble / brute.size
    assert(recall > 0.2, s"IVF recall vs brute too low: $recall")
  }

  test("k-means: valid assignments, argmax consistency, better than k=1") {
    val a = Similarity.kmeansAssign(emb, "embedding", "vec_id", k = 8, iters = 2)
      .collect()
    assert(a.length === emb.count())
    assert(a.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 8))
    assert(a.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
    // a one-centroid "clustering" can't beat real clusters on mean
    // cosine to the assigned centroid
    val base = Similarity.kmeansAssign(emb, "embedding", "vec_id", k = 1, iters = 1)
      .collect()
    val meanK = a.map(_.getDouble(2)).sum / a.length
    val mean1 = base.map(_.getDouble(2)).sum / base.length
    assert(meanK > mean1, s"k=8 mean cos $meanK must beat k=1 $mean1")
  }

  test("centroids ride a broadcast: plan size flat 256 -> 4096, same answers") {
    import org.apache.spark.sql.graft.Bridge
    import graft.plans.{BroadcastCentroids, InlineCentroids, NearestCentroid}
    val dim = 8
    def rows(n: Int): Seq[Seq[Float]] =
      Seq.tabulate(n)(i => Seq.tabulate(dim)(d =>
        math.sin(i * 31 + d).toFloat))
    def assignPlan(n: Int) = {
      val ref = BroadcastCentroids(
        spark.sparkContext.broadcast(rows(n).map(_.toArray).toArray))
      emb.select(col("vec_id"),
        Bridge.column(NearestCentroid(
          Bridge.expression(col("embedding")), ref)).as("list_id"))
    }
    // plan text must not grow with nlist — the matrix is a broadcast
    // handle, not nlist inlined literals
    val p256 = assignPlan(256).queryExecution.executedPlan.treeString
    val p4096 = assignPlan(4096).queryExecution.executedPlan.treeString
    assert(math.abs(p4096.length - p256.length) < 64,
      s"plan grew with nlist: ${p256.length} -> ${p4096.length}")
    // and the broadcast path computes exactly what the inline path does
    val inline = emb.limit(50).select(col("vec_id"),
      Bridge.column(NearestCentroid(
        Bridge.expression(col("embedding")), InlineCentroids(rows(64)))).as("l"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val bcast = emb.limit(50).select(col("vec_id"),
      Bridge.column(NearestCentroid(Bridge.expression(col("embedding")),
        BroadcastCentroids(spark.sparkContext.broadcast(
          rows(64).map(_.toArray).toArray)))).as("l"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(inline === bcast)
  }

  test("LSH top-k: subset of corpus with valid cosines, recall > 0") {
    val brute = Similarity.bruteTopK(emb, queries, "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, queries, "embedding", "vec_id", k = 5)
      .collect()
    assert(lsh.nonEmpty)
    val lshPairs = lsh.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect lshPairs).size.toDouble / brute.size
    assert(recall > 0.2, s"LSH recall vs brute too low: $recall")
  }

  test("LSH top-k default shape is density-adaptive (autoLshShape wiring)") {
    // the no-tuning default resolves via measureDensity + autoLshShape:
    // the default path must equal an explicit run at the solved shape
    // (pinning the wiring), and the solve itself must satisfy its
    // design bounds on this corpus
    val n = emb.count()
    val (cBg, cTrue) = Similarity.measureDensity(emb, "embedding", "vec_id")
    val shape = Similarity.autoLshShape(n, cBg, cTrue)
    def pairs(tables: Int, bits: Int) =
      Similarity.lshTopK(emb, queries, "embedding", "vec_id", k = 5,
          tables = tables, bits = bits)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val default = Similarity.lshTopK(emb, queries, "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(default === pairs(shape.tables, shape.bits))
    // design bounds: table budget held, and the solved shape's
    // PREDICTED recall at the measured k-th-neighbor point clears the
    // 0.6 target (the d_ann_lsh_auto_recall row measures the real one)
    assert(shape.tables >= 4 && shape.tables <= 64)
    assert(shape.bits >= 2 && shape.bits <= 16)
    val pT = 1.0 - math.acos(math.min(1.0, math.max(-1.0, cTrue))) / math.Pi
    val predicted = 1.0 - math.pow(1.0 - math.pow(pT, shape.bits), shape.tables)
    assert(predicted >= 0.6 - 1e-9, s"solved shape predicts recall $predicted")
    // legacy leg: pinning tables alone still resolves occupancy bits
    val autoB = operators.Dedup.autoBits(n)
    assert(pairs(8, autoB) === Similarity.lshTopK(emb, queries, "embedding",
      "vec_id", k = 5, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
  }

  test("PQ encode packs valid per-subspace codes; reconstruction beats random pairing") {
    import org.apache.spark.sql.graft.Bridge
    import graft.plans.{BroadcastCodebooks, PQCosine, PQEncode64}
    val books = Similarity.trainCodebooks(emb, "embedding", "vec_id",
      m = 8, ksub = 256, iters = 5, sampleCap = 2048)
    assert(books.length === 8)
    assert(books.forall(_.length <= 256))
    assert(books.forall(_.forall(_.length === 8))) // 64-dim / 8 subspaces
    val ref = BroadcastCodebooks(spark.sparkContext.broadcast(books))
    // ADC self-cosine: a vector scored against its own code must sit
    // near 1 (the reconstruction is the vector's nearest codeword mix)
    val self = emb.limit(100).select(
      Bridge.column(PQCosine(Bridge.expression(col("embedding")),
        Bridge.expression(Bridge.column(PQEncode64(
          Bridge.expression(col("embedding")), ref))), ref)).as("c"))
      .collect().map(_.getDouble(0))
    assert(self.forall(c => c > 0.8 && c <= 1.0 + 1e-9),
      s"ADC self-cosine too lossy: min=${self.min}")
    // the inline ref computes exactly what the broadcast ref does
    // (same parity contract as the centroids test)
    import graft.plans.InlineCodebooks
    val inlineRef = InlineCodebooks(
      books.map(_.map(_.toSeq).toSeq).toSeq)
    def codes(r: graft.plans.CodebookRef) = emb.limit(50)
      .select(col("vec_id"), Bridge.column(PQEncode64(
        Bridge.expression(col("embedding")), r)).as("code"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(codes(inlineRef) === codes(ref))
  }

  test("PQ top-k: shape, ordering, and rerank recall vs brute") {
    val got = Similarity.pqTopK(emb, queries, "embedding", "vec_id", k = 5).collect()
    assert(got.length === 50)
    val byQ = got.groupBy(_.getLong(0))
    assert(byQ.keySet === (0L until 10L).toSet)
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getDouble(2)).sliding(2).forall(p => p.head >= p.last))
      assert(sorted.forall(r => r.getLong(1) != r.getLong(0)))
    }
    val brute = Similarity.bruteTopK(emb, queries, "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the reranked path returns EXACT cosines for its survivors and
    // must recover most of the true top-5 through the 100-deep shortlist
    val reranked = Similarity
      .pqTopK(emb, queries, "embedding", "vec_id", k = 5, rerank = 100)
      .collect()
    val rrPairs = reranked.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect rrPairs).size.toDouble / brute.size
    assert(recall >= 0.7, s"PQ rerank recall vs brute too low: $recall")
    // reranked scores are true cosines: spot-check one against kernel
    val bruteCos = Similarity.bruteTopK(emb, queries, "embedding", "vec_id", k = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    reranked.foreach { r =>
      bruteCos.get((r.getLong(0), r.getLong(1)))
        .foreach(c => assert(math.abs(c - r.getDouble(2)) < 1e-9))
    }
    // production path: train once, materialize codes once, query many —
    // the codes-table scan reproduces the self-contained default exactly
    val books = Similarity.trainCodebooks(emb, "embedding", "vec_id")
    val codes = Similarity.pqEncode(emb, "embedding", "vec_id", books)
    assert(codes.columns.toSeq === Seq("vec_id", "code"))
    val expect = got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaBooks = Similarity.pqTopK(emb, queries, "embedding", "vec_id",
        k = 5, codebooks = Some(books))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaBooks === expect)
    val viaCodes = Similarity.pqTopK(emb, queries, "embedding", "vec_id",
        k = 5, codebooks = Some(books), codes = Some(codes))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaCodes === expect)
    // invariant-breaking injected books are rejected, not silently wrong
    intercept[IllegalArgumentException] {
      Similarity.pqTopK(emb, queries, "embedding", "vec_id",
        codebooks = Some(Array.fill(9)(Array(Array(0f)))))
    }
    intercept[IllegalArgumentException] {
      Similarity.pqTopK(emb, queries, "embedding", "vec_id",
        codes = Some(codes)) // codes without their codebooks
    }
    // codes stamped by pqEncode carry their books' fingerprint: pairing
    // them with DIFFERENT books (retrained on another sample) must be
    // rejected — silently wrong neighbors are the failure mode
    val otherBooks = Similarity.trainCodebooks(
      emb.filter(col("vec_id") >= 100), "embedding", "vec_id")
    assert(Similarity.bookFingerprint(otherBooks) !==
      Similarity.bookFingerprint(books))
    val exMismatch = intercept[IllegalArgumentException] {
      Similarity.pqTopK(emb, queries, "embedding", "vec_id",
        k = 5, codebooks = Some(otherBooks), codes = Some(codes))
    }
    assert(exMismatch.getMessage.contains("different"), exMismatch.getMessage)
    // the stamp survives a parquet round trip (production codes table)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_codes").toString
    codes.write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    val viaReloaded = Similarity.pqTopK(emb, queries, "embedding", "vec_id",
        k = 5, codebooks = Some(books), codes = Some(reloaded))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaReloaded === expect)
    intercept[IllegalArgumentException] {
      Similarity.pqTopK(emb, queries, "embedding", "vec_id",
        k = 5, codebooks = Some(otherBooks), codes = Some(reloaded))
    }
    // an unstamped codes table (hand-built) is tolerated: nothing to
    // verify (a bare alias inherits metadata, so strip it explicitly)
    val unstamped = codes.select(col("vec_id"),
      col("code").as("code", org.apache.spark.sql.types.Metadata.empty))
    val viaUnstamped = Similarity.pqTopK(emb, queries, "embedding", "vec_id",
        k = 5, codebooks = Some(books), codes = Some(unstamped))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaUnstamped === expect)
  }

  test("IVF-PQ composite: routed + coded scan, reranked equals flat IVF") {
    val got = Similarity.ivfPqTopK(emb, queries, "embedding", "vec_id",
      nlist = 16, nprobe = 4, rerank = 100).collect()
    assert(got.length === 50)
    // rerank returns TRUE cosines: every returned (q, n) pair scores
    // exactly what brute force says it scores
    val bruteCos = Similarity.bruteTopK(emb, queries, "embedding", "vec_id",
        k = 50).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    got.foreach { r =>
      bruteCos.get((r.getLong(0), r.getLong(1)))
        .foreach(c => assert(math.abs(c - r.getDouble(2)) < 1e-9))
    }
    // at this shape the ADC shortlist must not lose anything the
    // probed lists contain: IVF-PQ reranked == IVF-flat, pair for pair
    val flat = Similarity.ivfTopK(emb, queries, "embedding", "vec_id",
        nlist = 16, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val gotSet = got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotSet === flat)
  }

  test("IVF-PQ pass-through: train once, index once, query many") {
    val expect = Similarity.ivfPqTopK(emb, queries, "embedding", "vec_id",
        nlist = 16, nprobe = 4, rerank = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the production workflow: both artifacts trained once, the index
    // materialized once — every stage must reproduce the self-contained
    // default exactly (same deterministic training inputs)
    val cents = Similarity.trainQuantizer(emb, "embedding", "vec_id",
      nlist = 16, iters = 1)
    val books = Similarity.trainCodebooks(emb, "embedding", "vec_id")
    val viaArtifacts = Similarity.ivfPqTopK(emb, queries, "embedding", "vec_id",
        nprobe = 4, rerank = 100,
        centroids = Some(cents), codebooks = Some(books))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaArtifacts === expect)
    val index = Similarity.ivfPqEncode(emb, "embedding", "vec_id", cents, books)
    assert(index.columns.toSeq === Seq("vec_id", "list_id", "code"))
    val viaIndex = Similarity.ivfPqTopK(emb, queries, "embedding", "vec_id",
        nprobe = 4, rerank = 100,
        centroids = Some(cents), codebooks = Some(books), index = Some(index))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaIndex === expect)
    // the stamps survive a parquet round trip (production index table)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_index").toString
    index.write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    val viaReloaded = Similarity.ivfPqTopK(emb, queries, "embedding", "vec_id",
        nprobe = 4, rerank = 100,
        centroids = Some(cents), codebooks = Some(books), index = Some(reloaded))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaReloaded === expect)
    // an index without its artifacts is rejected outright
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(emb, queries, "embedding", "vec_id",
        index = Some(index))
    }
    // pairing the index with RETRAINED artifacts must fail loudly on
    // BOTH axes — wrong centroids mis-route lists, wrong books
    // mis-decode ADC scores, and both are silent at query time
    val otherCents = Similarity.trainQuantizer(
      emb.filter(col("vec_id") >= 100), "embedding", "vec_id",
      nlist = 16, iters = 1)
    assert(Similarity.centroidFingerprint(otherCents) !==
      Similarity.centroidFingerprint(cents))
    val exCents = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(emb, queries, "embedding", "vec_id",
        centroids = Some(otherCents), codebooks = Some(books),
        index = Some(reloaded))
    }
    assert(exCents.getMessage.contains("different centroids"), exCents.getMessage)
    val otherBooks = Similarity.trainCodebooks(
      emb.filter(col("vec_id") >= 100), "embedding", "vec_id")
    val exBooks = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(emb, queries, "embedding", "vec_id",
        centroids = Some(cents), codebooks = Some(otherBooks),
        index = Some(reloaded))
    }
    assert(exBooks.getMessage.contains("different codebooks"), exBooks.getMessage)
  }

  test("IVF default list count is corpus-sized (autoNlist wiring)") {
    // ~sqrt(n), clamped: per-list occupancy and per-query scan cost
    // both grow as sqrt(n) instead of linearly with a fixed nlist
    assert(Similarity.autoNlist(0) === 16)
    assert(Similarity.autoNlist(256) === 16)
    assert(Similarity.autoNlist(5000) === 71)
    assert(Similarity.autoNlist(1000000) === 1000)
    assert(Similarity.autoNlist(Long.MaxValue) === 4096)
    // the default path must equal an explicit run at the auto width
    val auto = Similarity.autoNlist(emb.count())
    val default = Similarity.ivfTopK(emb, queries, "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val explicit = Similarity
      .ivfTopK(emb, queries, "embedding", "vec_id", k = 5, nlist = auto)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(default === explicit)
  }

  test("pair-work quantizer sizing is cluster-bounded past the sqrt(n) crossover") {
    // below the crossover: identical to autoNlist, so every measured
    // recall floor at the driver-gate SFs is untouched by the r14 fix
    assert(Similarity.autoNlistPairs(500) === Similarity.autoNlist(500))
    assert(Similarity.autoNlistPairs(2000) === Similarity.autoNlist(2000))
    // past it: nlist = n/64, so within-cluster pair mass is
    // O(n·64·probes²) — sqrt(n) sizing was n^1.5 and OOM'd at n=200k
    // (the 100x probe's one real find)
    assert(Similarity.autoNlistPairs(200000) === 3125)
    assert(Similarity.autoNlistPairs(200000) > Similarity.autoNlist(200000))
    // monotone in n, and the assignment-cost cap binds eventually
    assert(Similarity.autoNlistPairs(2000000) === 16384)
    val ns = Seq(100L, 1000L, 10000L, 100000L, 1000000L, 10000000L)
    assert(ns.map(Similarity.autoNlistPairs) === ns.map(Similarity.autoNlistPairs).sorted)
  }

  test("ngram banding AUTO-steepens past the pinned bench shape") {
    import graft.operators.Dedup
    // the pinned 12x6 is exactly what AUTO resolves to at the test
    // corpus sizes (the bench keys pin it to keep the sizing count()
    // out of benched time)...
    assert(Dedup.autoNgramRows(5000) === 6)
    assert(Dedup.autoNgramBands(6) === 12)
    // ...and at the 100x probe's 500k docs AUTO steepens the rows —
    // the production path for the fixed-shape background collisions
    // the 100x table documents (d_dedup_ngram 59x with the pin)
    assert(Dedup.autoNgramRows(500000) > 6)
  }

  test("SQ8: per-coordinate error bound, self-cosine near 1, top-k near brute") {
    import org.apache.spark.sql.graft.Bridge
    import graft.plans.{BroadcastSq8, SQ8Cosine, SQ8Encode}
    val scales = Similarity.trainSq8(emb, "embedding")
    assert(scales.dim === 64)
    val ref = BroadcastSq8(spark.sparkContext.broadcast((scales.mins, scales.spans)))
    // dequantized coordinate i must sit within span_i/510 (+ float eps)
    // of the original — the SQ8 resolution guarantee, per vector
    val spansB = spark.sparkContext.broadcast(scales.spans)
    val minsB = spark.sparkContext.broadcast(scales.mins)
    val rows = emb.select(col("embedding"),
      Bridge.column(SQ8Encode(Bridge.expression(col("embedding")), ref)).as("code"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0)
      val code = r.getAs[Array[Byte]](1)
      var i = 0
      while (i < v.length) {
        val rec = minsB.value(i) + ((code(i).toInt + 128) / 255.0) * spansB.value(i)
        val tol = spansB.value(i) / 510.0 + 1e-6
        assert(math.abs(rec - v(i)) <= tol,
          s"dim $i: |$rec - ${v(i)}| > $tol")
        i += 1
      }
    }
    // asymmetric self-cosine: a vector against its own code ~ 1
    val self = emb.limit(100).select(
      Bridge.column(SQ8Cosine(Bridge.expression(col("embedding")),
        Bridge.expression(Bridge.column(SQ8Encode(
          Bridge.expression(col("embedding")), ref))), ref)).as("c"))
      .collect().map(_.getDouble(0))
    assert(self.forall(c => c > 0.999 && c <= 1.0 + 1e-9),
      s"SQ8 self-cosine too lossy: min=${self.min}")
    // raw-order top-k: shape right, high overlap with brute
    val got = Similarity.sq8TopK(emb, queries, "embedding", "vec_id", k = 5)
    assert(got.columns.toSeq === Seq("query_id", "neighbor_id", "cos_sq", "rnk"))
    val sq = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sq.size === 50)
    val brute = Similarity.bruteTopK(emb, queries, "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((sq intersect brute).size >= 45,
      s"SQ8 raw recall too low: ${(sq intersect brute).size}/50")
  }

  test("IVF-SQ: pass-through artifacts reproduce the self-contained run; wrong artifacts rejected") {
    val cents = Similarity.trainQuantizer(emb, "embedding", "vec_id",
      nlist = 16, iters = 1)
    val scales = Similarity.trainSq8(emb, "embedding")
    val index = Similarity.ivfSqEncode(emb, "embedding", "vec_id", cents, scales)
    val dir = java.nio.file.Files.createTempDirectory("ivfsq").toString
    index.write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    val viaArtifacts = Similarity.ivfSqTopK(emb, queries, "embedding", "vec_id",
      nlist = 16, centroids = Some(cents), scales = Some(scales),
      index = Some(reloaded))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val selfContained = Similarity.ivfSqTopK(emb, queries, "embedding", "vec_id",
      nlist = 16, lloydIters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaArtifacts === selfContained)
    // retrained scales: the parquet-persisted stamp must reject
    val otherScales = Similarity.Sq8Scales(scales.mins.map(_ + 1f), scales.spans)
    val exS = intercept[IllegalArgumentException] {
      Similarity.ivfSqTopK(emb, queries, "embedding", "vec_id",
        centroids = Some(cents), scales = Some(otherScales),
        index = Some(reloaded))
    }
    assert(exS.getMessage.contains("SQ8 scales"), exS.getMessage)
    // retrained centroids: rejected on the routing axis
    val otherCents = cents.map(_.map(_ + 1f))
    val exC = intercept[IllegalArgumentException] {
      Similarity.ivfSqTopK(emb, queries, "embedding", "vec_id",
        centroids = Some(otherCents), scales = Some(scales),
        index = Some(reloaded))
    }
    assert(exC.getMessage.contains("centroids"), exC.getMessage)
  }

  test("PCA: planted 2-plane recovered exactly, deterministic retrain") {
    import spark.implicits._
    // 200 vectors confined to the plane spanned by two non-axis
    // orthonormal directions u, w inside 64-dim space
    val d = 64
    val u = Array.tabulate(d)(i => if (i < 2) 1.0f / math.sqrt(2).toFloat else 0f)
    val w = Array.tabulate(d)(i =>
      if (i == 0) 1.0f / math.sqrt(2).toFloat
      else if (i == 1) -1.0f / math.sqrt(2).toFloat else 0f)
    val data = (0 until 200).map { i =>
      val a = math.sin(i * 0.37).toFloat * 3f
      val b = math.cos(i * 0.53).toFloat
      (i.toLong, Array.tabulate(d)(k => a * u(k) + b * w(k)).toSeq)
    }.toDF("vec_id", "embedding")
    val model = Similarity.trainPca(data, "embedding", r = 2)
    assert(model.dim === 64 && model.r === 2)
    // all variance lives in the plane: explained ~ 1, residual ~ 0
    assert(model.explainedRatio > 1.0 - 1e-7, s"explained=${model.explainedRatio}")
    // tolerance reflects float32 inputs: the planted plane is itself
    // only float-exact, so out-of-plane residual^2 lands ~1e-8 — still
    // 8 orders under the ~5.0 total variance
    val maxRes = Similarity.pcaResidual2(data, "embedding", model)
      .agg(max(col("residual2"))).head().getDouble(0)
    assert(maxRes < 1e-6, s"maxRes=$maxRes")
    // components stay inside span{u, w}: projecting each component
    // onto the plane loses nothing
    model.components.foreach { c =>
      val cu = c.indices.map(k => c(k) * u(k)).sum
      val cw = c.indices.map(k => c(k) * w(k)).sum
      assert(math.abs(cu * cu + cw * cw - 1.0) < 1e-6)
    }
    // retrain on identical data reproduces the model bit-for-bit
    val again = Similarity.trainPca(data, "embedding", r = 2)
    assert(java.util.Arrays.equals(model.mean, again.mean))
    assert(model.components.zip(again.components)
      .forall { case (x, y) => java.util.Arrays.equals(x, y) })
  }

  test("RP top-k: seed-deterministic, seed-sensitive, recalls most of brute") {
    import org.apache.spark.sql.graft.Bridge
    import graft.plans.RpProject
    // same seed => bit-identical projections on every executor
    def projSet(seed: Long) = emb.limit(50)
      .select(col("vec_id"), Bridge.column(RpProject(
        Bridge.expression(col("embedding")), 32, seed)).as("p"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
    val a = projSet(4242L)
    assert(projSet(4242L) === a)
    val b = projSet(999L)
    assert(a.keySet.exists(k => a(k) != b(k)),
      "different seeds must project differently")
    // shortlist + exact rerank: high overlap with brute top-k, and
    // every returned cos is the TRUE cosine (rerank re-scores exactly)
    val rp = Similarity.rpTopK(emb, queries, "embedding", "vec_id")
    val rpSet = rp.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = Similarity.bruteTopK(emb, queries, "embedding", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val hits = rpSet.count(t => brute.contains(t))
    assert(hits >= 40, s"RP recall too low at sf0.001: $hits/50")
  }

  test("PCA top-k at full rank equals brute-force exactly") {
    // r = d keeps every direction: the projected shortlist ranks
    // identically to exact cosine, so reduce-then-rerank is lossless
    val got = Similarity.pcaTopK(emb, queries, "embedding", "vec_id",
      k = 5, shortlist = 5000, r = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = Similarity.bruteTopK(emb, queries, "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === brute)
  }

  test("SQ8 artifacts: codes round-trip through parquet, wrong scales rejected") {
    val scales = Similarity.trainSq8(emb, "embedding")
    val codes = Similarity.sq8Encode(emb, "embedding", "vec_id", scales)
    val dir = java.nio.file.Files.createTempDirectory("sq8codes").toString
    codes.write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    // right scales: full-artifact result equals the self-contained run
    val viaArtifacts = Similarity.sq8TopK(emb, queries, "embedding", "vec_id",
      scales = Some(scales), codes = Some(reloaded))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val selfContained = Similarity.sq8TopK(emb, queries, "embedding", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaArtifacts === selfContained)
    // wrong scales: the parquet-persisted fingerprint must reject
    val other = Similarity.Sq8Scales(
      scales.mins.map(_ + 1f), scales.spans)
    val ex = intercept[IllegalArgumentException] {
      Similarity.sq8TopK(emb, queries, "embedding", "vec_id",
        scales = Some(other), codes = Some(reloaded))
    }
    assert(ex.getMessage.contains("SQ8 scales"), ex.getMessage)
  }

  test("d_ann_mmr: first pick is the relevance top-1 and greedy scores never increase") {
    import graft.operators.Pipeline
    val out = Pipeline.dAnnMmr.fn(spark, sf).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    val brute = graft.operators.Similarity.bruteTopK(
        Tables.load(spark, sf, "embeddings"),
        Tables.load(spark, sf, "embeddings").filter(col("vec_id") < 10),
        "embedding", "vec_id", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byQ.foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq === (1L to sorted.length))
      assert(sorted.head.getLong(2) === brute(qid),
        s"q$qid first pick must be the relevance top-1")
      val scores = sorted.map(_.getLong(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"q$qid greedy scores increased: ${scores.mkString(",")}")
      assert(sorted.map(_.getLong(2)).distinct.length === sorted.length)
    }
  }

  test("mutualKnnGraph keeps exactly the reciprocal pairs") {
    import spark.implicits._
    // two tight orthogonal pairs plus a far-from-everything loner:
    // with k=1 the only mutual edges are the pairs; the loner's
    // one-directional edge into a hub must NOT survive
    def v(x: Double, y: Double, z: Double) =
      Array(x.toFloat, y.toFloat, z.toFloat)
    val nodes = Seq(
      (1L, v(1.0, 0.0, 0.0)), (2L, v(0.99, 0.14, 0.0)),
      (3L, v(0.0, 1.0, 0.0)), (4L, v(0.14, 0.99, 0.0)),
      (5L, v(0.0, 0.0, 1.0))).toDF("vec_id", "embedding")
    val edges = Similarity.mutualKnnGraph(nodes, "embedding", "vec_id", k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges === Set((1L, 2L), (3L, 4L)),
      s"only the reciprocal pairs may survive, got $edges")
    // mutuality on real data: every edge endpoint is in the other's
    // brute top-3, and edges are unique with a < b
    val emb3 = emb.filter(col("vec_id") < 100)
    val g = Similarity.mutualKnnGraph(emb3, "embedding", "vec_id", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(g.nonEmpty && g.distinct.length === g.length && g.forall(e => e._1 < e._2))
    val knn = Similarity.bruteTopK(emb3, emb3, "embedding", "vec_id", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    g.foreach { case (a, b) =>
      assert(knn.contains((a, b)) && knn.contains((b, a)),
        s"edge ($a,$b) is not reciprocal in the brute top-3")
    }
  }

  test("graph search: beam routes hop-by-hop to a target unreachable from the seed") {
    import spark.implicits._
    // six points along an arc; the k=2 graph links arc neighbors, so
    // the only path from seed 0 to the query's true neighbors is
    // hop-by-hop routing — exactly what beam search must do
    def v(t: Double) = Array(math.cos(t).toFloat, math.sin(t).toFloat, 0f)
    val nodes = (0 to 5).map(i => (i.toLong, v(i * 0.3))).toDF("vec_id", "embedding")
    val graph = Similarity.bruteTopK(nodes, nodes, "embedding", "vec_id", k = 2)
      .select(col("query_id"), col("neighbor_id"))
    val q5 = nodes.filter(col("vec_id") === 5L)
    val got = Similarity.graphSearchTopK(nodes, q5, graph,
        "embedding", "vec_id", k = 2, beam = 2, rounds = 5, seeds = Seq(0L))
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(got.toSeq === Seq((4L, 1L), (3L, 2L)),
      s"beam must walk the arc to node 5's true neighbors, got ${got.toSeq}")
    // too few rounds cannot reach them (the routing is real, not a scan)
    val stuck = Similarity.graphSearchTopK(nodes, q5, graph,
        "embedding", "vec_id", k = 2, beam = 2, rounds = 1, seeds = Seq(0L))
      .collect().map(_.getLong(1)).toSet
    assert(!stuck.contains(4L), s"1 round from seed 0 must not reach node 4: $stuck")
    // real data: never self, descending integer rank order, deterministic
    val emb3 = emb.filter(col("vec_id") < 100)
    val g3 = Similarity.bruteTopK(emb3, emb3, "embedding", "vec_id", k = 8)
      .select(col("query_id"), col("neighbor_id"))
    val qs = emb3.filter(col("vec_id") < 5)
    def run() = Similarity.graphSearchTopK(emb3, qs, g3,
        "embedding", "vec_id", k = 5, beam = 16, rounds = 4,
        seeds = (1L until 100L by 20L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val a = run()
    assert(a.toSeq === run().toSeq, "beam search must be deterministic")
    assert(a.forall(r => r._1 != r._2))
    a.groupBy(_._1).values.foreach { rows =>
      val s = rows.sortBy(_._4)
      assert(s.map(_._3).sliding(2).forall(p => p.head >= p.last))
    }
  }

  test("layered graph search: upper-layer entries route where fixed seeds get stuck") {
    import spark.implicits._
    // same arc device as above, longer: 12 points, k=2 base graph.
    // From the single fixed seed 0, 2 rounds cannot reach node 11's
    // true neighbors; the upper layer (every 3rd node, its own k=1
    // graph) walks the coarse arc first, and its survivors drop the
    // query into the right base neighborhood
    def v(t: Double) = Array(math.cos(t).toFloat, math.sin(t).toFloat, 0f)
    val nodes = (0 to 11).map(i => (i.toLong, v(i * 0.25))).toDF("vec_id", "embedding")
    val graph = Similarity.bruteTopK(nodes, nodes, "embedding", "vec_id", k = 2)
      .select(col("query_id"), col("neighbor_id"))
    val upperNodes = nodes.filter(col("vec_id") % 3 === 0)
    val upperGraph = Similarity.bruteTopK(upperNodes, upperNodes,
        "embedding", "vec_id", k = 1)
      .select(col("query_id"), col("neighbor_id"))
    val q = nodes.filter(col("vec_id") === 11L)
    val flat = Similarity.graphSearchTopK(nodes, q, graph,
        "embedding", "vec_id", k = 2, beam = 2, rounds = 2, seeds = Seq(0L))
      .collect().map(_.getLong(1)).toSet
    assert(!flat.contains(10L),
      s"2 base rounds from seed 0 must not reach node 10: $flat")
    val layered = Similarity.graphSearchTopKLayered(nodes, q, graph,
        upperGraph, "embedding", "vec_id", k = 2, beam = 2, rounds = 2,
        upperSeed = 0L, upperBeam = 2, upperRounds = 3, nEntry = 2)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(layered.toSeq === Seq((10L, 1L), (9L, 2L)),
      s"upper-layer routing must reach node 11's true neighbors, got ${layered.toSeq}")
  }

  /** The beam rule restated over plain collections: per (query, shard)
    * keep the top `beam` of cur ∪ N(cur) by (cosm desc, id asc) over
    * the undirected graph, ids without a vector dropped, the query
    * excluded (its seed kept for the first beam with `keepSelf`);
    * the answer is the top `k` of the final beams. */
  private def referenceBeam(vecs: Map[Long, Array[Float]],
      edges: Seq[(Long, Long)], shardOf: Long => Long, q: Long,
      seeds: Seq[Long], beam: Int, rounds: Int, k: Int,
      keepSelf: Boolean): Seq[(Long, Long, Long, Long)] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    def cosm(id: Long): Long = {
      val (a, b) = (vecs(q), vecs(id))
      val dp = a.indices.map(i => a(i).toDouble * b(i)).sum
      val d = math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum)
      BigDecimal(if (d == 0) 0.0 else dp / d * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    def order(ids: Iterable[Long]): Seq[Long] =
      ids.toSeq.sortBy(id => (-cosm(id), id))
    def top(c: Set[Long]): Set[Long] = c.filter(vecs.contains)
      .groupBy(shardOf).values.flatMap(s => order(s).take(beam)).toSet
    var cur = top(seeds.toSet.filter(id => keepSelf || id != q))
    for (_ <- 1 to rounds)
      cur = top(cur ++ cur.flatMap(adj.getOrElse(_, Nil)) - q)
    order(cur - q).take(k).zipWithIndex
      .map { case (id, r) => (q, id, cosm(id), r + 1L) }
  }

  test("beam loop equals the reference rule: unsharded and per-shard, missing ids, self seeds, ties") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // ids 40-49 copy the vectors of 0-9: exact cosm ties for every query
    val base = (0 until 40).map(_ => Array.fill(4)(rnd.nextGaussian().toFloat))
    val vecs = ((0 until 40).map(i => i.toLong -> base(i)) ++
      (40 until 50).map(i => i.toLong -> base(i - 40))).toMap
    val nodes = vecs.toSeq.toDF("vec_id", "embedding")
    // a sparse random graph, plus edges into ids 900+ absent from nodes
    val edges = (0L until 50L).flatMap(a =>
        Seq.fill(2)(a -> rnd.nextInt(50).toLong).filter(e => e._1 != e._2)) ++
      Seq(3L -> 900L, 901L -> 7L, 12L -> 902L)
    val graph = edges.toDF("query_id", "neighbor_id")
    val qIds = Seq(0L, 3L, 7L, 12L, 41L)
    val queries = nodes.filter(col("vec_id").isin(qIds: _*))
    // every query is among its own seeds; 903 is absent from nodes
    val seeds = qIds.map(q => q -> Seq(q, (q + 20) % 50, 903L)).toMap
    val seedCands = seeds.toSeq
      .flatMap { case (q, s) => s.map(q -> _) }.toDF("query_id", "cand")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val flat = rows(Similarity.graphSearchTopKFrom(nodes, queries, graph,
      "embedding", "vec_id", seedCands, k = 4, beam = 3, rounds = 3))
    val flatRef = qIds.flatMap(q => referenceBeam(vecs, edges, _ => 0L, q,
      seeds(q), beam = 3, rounds = 3, k = 4, keepSelf = false))
    assert(flat === flatRef)
    // per-shard beams with the entry-seed exemption: entries 3 and 8
    // (pmod 2 shards) — query 3 coincides with its shard's entry
    val entries = Seq((1, 3L), (0, 8L)).toDF("shard", "entry_id")
    val sharded = rows(Similarity.graphSearchTopKSharded(nodes, queries,
      graph, entries, "embedding", "vec_id", shards = 2, k = 5,
      beamPerShard = 2, rounds = 2))
    val shardedRef = qIds.flatMap(q => referenceBeam(vecs, edges,
      id => Math.floorMod(id, 2L), q, Seq(3L, 8L), beam = 2, rounds = 2,
      k = 5, keepSelf = true))
    assert(sharded === shardedRef)
    // the exemption is observable: query 3 expanded its own neighbours
    assert(shardedRef.exists(_._1 == 3L))
  }

  test("layered search runs one job per round: bounded and repeatable job count") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graft.Bridge
    val nodes = emb.localCheckpoint(true)
    val n = nodes.count()
    val (g, u, e) = Similarity.buildGraphIndexFull(nodes, "embedding",
      "vec_id", n, k = 12, rounds = 2)
    val (graph, upper) = (g.localCheckpoint(true), u.localCheckpoint(true))
    val q = nodes.filter(col("vec_id") < 10)
    val (rounds, upperRounds) = (6, 1)
    def jobs(): (Int, Seq[org.apache.spark.sql.Row]) = {
      val c = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          { c.incrementAndGet(); () }
      }
      Bridge.drainListenerBus(spark)
      spark.sparkContext.addSparkListener(l)
      val out = try {
        val r = Similarity.graphSearchTopKLayered(nodes, q, graph, upper,
          "embedding", "vec_id", k = 5, beam = 48, rounds = rounds,
          upperSeed = e, upperRounds = upperRounds).collect().toSeq
        Bridge.drainListenerBus(spark); r
      } finally spark.sparkContext.removeSparkListener(l)
      (c.get, out)
    }
    val (first, a) = jobs()
    val (second, b) = jobs()
    // set-up: the query collect and the search-table build; then one
    // job per round: 1 + upperRounds upper, at most `rounds` base (the
    // base seeds are upper survivors, already scored)
    val setup = 4
    assert(first <= rounds + upperRounds + 1 + setup,
      s"$first jobs for one layered search")
    assert(first === second, "job count must repeat exactly")
    assert(a === b && a.length === 50)
  }

  test("degenerate search inputs: empty queries, no edges, absent seeds, zero and null vectors") {
    import spark.implicits._
    val v = Seq(
      (1L, Some(Array(1f, 0f))), (2L, Some(Array(0.8f, 0.6f))),
      (3L, Some(Array(0f, 1f))), (4L, Some(Array(0f, 0f))),
      (5L, None), (6L, Some(Array(-1f, 0f))))
    val nodes = v.toDF("vec_id", "embedding")
    val graph = Seq((1L, 2L), (2L, 3L), (3L, 5L), (5L, 6L), (1L, 4L))
      .toDF("query_id", "neighbor_id")
    val noEdges = graph.limit(0)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val q1 = nodes.filter(col("vec_id") === 1L)
    // empty query set: no rows, no throw (layered, sharded, flat)
    assert(ids(Similarity.graphSearchTopKLayered(nodes, q1.limit(0),
      graph, graph, "embedding", "vec_id", upperSeed = 2L)).isEmpty)
    assert(ids(Similarity.graphSearchTopKSharded(nodes, q1.limit(0), graph,
      Seq((0, 2L)).toDF("shard", "entry_id"), "embedding", "vec_id",
      shards = 2)).isEmpty)
    // a graph with no edges: the answer is the ranked seeds
    assert(ids(Similarity.graphSearchTopK(nodes, q1, noEdges, "embedding",
      "vec_id", k = 3, seeds = Seq(3L, 2L, 6L))) ===
      Seq((1L, 2L), (1L, 3L), (1L, 6L)))
    // seeds absent from nodes: nothing to start from, no rows
    assert(ids(Similarity.graphSearchTopK(nodes, q1, graph, "embedding",
      "vec_id", seeds = Seq(98L, 99L))).isEmpty)
    // the zero vector scores cosm 0 as a candidate and as a query
    val all = Similarity.graphSearchTopK(nodes, nodes, graph, "embedding",
      "vec_id", k = 5, rounds = 3, seeds = Seq(1L, 3L)).collect()
    assert(all.filter(_.getLong(1) == 4L).forall(_.getLong(2) == 0L))
    assert(all.filter(_.getLong(0) == 4L).map(_.getLong(2)).toSet === Set(0L))
    // a null embedding is skipped: never returned though seeded and
    // linked, and a query with a null embedding returns no rows
    assert(!all.exists(_.getLong(1) == 5L))
    assert(!all.exists(_.getLong(0) == 5L))
    assert(ids(Similarity.graphSearchTopK(nodes, q1, graph, "embedding",
      "vec_id", seeds = Seq(5L))).isEmpty)
    // ... and is never in a beam, so nothing is reached through it:
    // 6 hangs off 5 only (and 4 off the query itself)
    assert(ids(Similarity.graphSearchTopK(nodes, q1, graph, "embedding",
      "vec_id", k = 5, rounds = 4, seeds = Seq(3L))).map(_._2).toSet ===
      Set(2L, 3L))
  }

  test("graph insert: every delta node links M base neighbors; merged search reaches inserted nodes") {
    import graft.operators.Pipeline
    val edges = Pipeline.dAnnGraphInsert.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(edges.nonEmpty)
    // every inserted edge leaves a delta node and lands in the base set
    assert(edges.forall(e => e._1 >= 400L && e._1 < 500L))
    assert(edges.forall(_._2 < 400L))
    // exactly M = 8 out-edges per inserted node, ranks 1..8
    edges.groupBy(_._1).foreach { case (id, es) =>
      assert(es.length === 8, s"node $id has ${es.length} insert edges")
      assert(es.map(_._3).sorted.toSeq === (1L to 8L))
    }
    // the merged-index contract row: recall floor AND reverse-edge
    // reachability of the inserted nodes hold at the spec SF too
    val r = Pipeline.dAnnGraphInsertRecall.fn(spark, sf).collect()(0)
    assert(r.getBoolean(2), s"merged recall ${r.getLong(1)} under floor")
    assert(r.getBoolean(5),
      s"new-node coverage ${r.getLong(4)}/${r.getLong(3)} under half")
  }

  test("full-corpus graph index: linear build stages, entry off the probe set, contracts hold") {
    import graft.operators.Pipeline
    val nodes = graft.Tables.load(spark, sf, "embeddings")
    val n = nodes.count()
    val (g, ug, entry) = Similarity.buildGraphIndexFull(
      nodes, "embedding", "vec_id", n, k = 12, rounds = 2)
    // the base graph covers (nearly) every node at out-degree <= 12
    val deg = g.groupBy(col("query_id")).agg(count(lit(1)).as("d")).collect()
    assert(deg.length.toLong >= n - 1)
    assert(deg.forall(_.getLong(1) <= 12L))
    // upper layer is the ~sqrt(n) uniform sample and contains the entry
    val upStep = math.max(2L, math.round(math.sqrt(n.toDouble)))
    val upperIds = ug.select(col("query_id")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(upperIds.forall(_ % upStep === 1L))
    // entry = smallest ACTUAL upper id >= 10, derived from the sampled
    // ids (on this contiguous-id corpus that equals the legacy
    // 1 + upStep arithmetic — the derivation is a strict generalization)
    assert(entry === upperIds.filter(_ >= 10L).min)
    assert(entry === 1L + upStep)
    assert(upperIds.contains(entry))
    // tiny corpus: the legacy arithmetic (1 + upStep = 5 at n = 20)
    // landed INSIDE the vec_id < 10 probe set; the derived entry must
    // stay off it whenever any upper id >= 10 exists
    val tiny = nodes.filter(col("vec_id") < 20)
    val (_, tinyUg, tinyEntry) = Similarity.buildGraphIndexFull(
      tiny, "embedding", "vec_id", 20, k = 4, rounds = 1)
    assert(tinyEntry >= 10L,
      s"tiny-corpus entry $tinyEntry is inside the probe set")
    assert(tinyUg.select(col("query_id")).distinct().collect()
      .map(_.getLong(0)).contains(tinyEntry))
    // entry is OFF the standard vec_id < 10 probe set: every probe
    // query must return exactly k rows (the self-filter regression —
    // entry 1 returned an empty beam for query 1)
    val full = Pipeline.dAnnGraphFull.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(full.length === 50, s"expected 10 queries x 5, got ${full.length}")
    assert(full.forall(r => r._1 != r._2))
    // contract rows at the spec SF
    val r = Pipeline.dAnnGraphFullRecall.fn(spark, sf).collect()(0)
    assert(r.getBoolean(1), "full-corpus recall under floor")
    val ir = Pipeline.dAnnGraphFullInsertRecall.fn(spark, sf).collect()(0)
    assert(ir.getBoolean(1), "insert recall under floor")
    assert(ir.getBoolean(2), "inserted nodes not reachable")
    // delete leg: tombstoned search refills every slot from survivors
    val dr = Pipeline.dAnnGraphFullDeleteRecall.fn(spark, sf).collect()(0)
    assert(dr.getBoolean(1), "survivor recall under floor after delete")
    assert(dr.getBoolean(2), "tombstones thinned a result set below k")
    // compaction leg: rebuild over survivors — tombstoned edges gone,
    // index shrank to the survivor count, recall floor still clears
    val cr = Pipeline.dAnnGraphFullCompactRecall.fn(spark, sf).collect()(0)
    assert(cr.getBoolean(1), "tombstones survived compaction")
    assert(cr.getBoolean(2), "post-compaction recall under floor")
    assert(cr.getBoolean(3), "compacted search thinned below k")
  }

  test("graph-index store round-trips edges and shape; bare store rejected; compaction = fresh build over survivors") {
    val nodes = graft.Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") < 100)
    val (g, ug, entry) = Similarity.buildGraphIndexFull(
      nodes, "embedding", "vec_id", 100, k = 4, rounds = 1)
    val path = s"${sys.props("java.io.tmpdir")}/graft_spec_graphstore"
    Similarity.writeGraphIndex(g, ug, entry, 100, 4, path)
    val (g2, ug2, entry2, n2, k2) = Similarity.readGraphIndex(spark, path)
    assert((entry2, n2, k2) === (entry, 100L, 4))
    def edges(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges(g2) === edges(g), "stored base edges != built")
    assert(edges(ug2) === edges(ug), "stored upper edges != built")
    // a store without shape metadata is rejected, never probed with a
    // guessed entry node
    val bare = s"${sys.props("java.io.tmpdir")}/graft_spec_barestore"
    g.select(col("query_id"), col("neighbor_id"))
      .write.mode("overwrite").parquet(s"$bare/graph")
    ug.write.mode("overwrite").parquet(s"$bare/upper")
    intercept[IllegalArgumentException] {
      Similarity.readGraphIndex(spark, bare)
    }
    // the compaction rebuild is buildGraphIndexFull over survivors —
    // one code path, so compacted ≡ fresh-build identity holds
    // edge-for-edge (the s_mv full-recompute identity)
    val survivors = nodes.filter(pmod(col("vec_id"), lit(10)) =!= 7)
    val nSurv = survivors.count()
    val (cg, cug, ce) = Similarity.buildGraphIndexFull(
      survivors, "embedding", "vec_id", nSurv, k = 4, rounds = 1)
    val (cg2, cug2, ce2) = Similarity.buildGraphIndexFull(
      survivors, "embedding", "vec_id", nSurv, k = 4, rounds = 1)
    assert(ce === ce2 && edges(cg) === edges(cg2) &&
      edges(cug) === edges(cug2),
      "rebuild over the same survivors must be deterministic")
    assert(cg.filter(pmod(col("query_id"), lit(10)) === 7 ||
        pmod(col("neighbor_id"), lit(10)) === 7).count() === 0L,
      "fresh build over survivors must carry no tombstoned edge")
  }

  test("sharded graph index: shard isolation, per-shard entries, deterministic build, fan-out contracts") {
    import graft.operators.Pipeline
    val nodes = graft.Tables.load(spark, sf, "embeddings")
    val n = nodes.count()
    val shards = Similarity.autoShards(n)
    assert(shards === 4, "spec corpus sits under the 64k auto step")
    val (g, entries) = Similarity.buildGraphIndexSharded(
      nodes, "embedding", "vec_id", n, shards, k = 12, rounds = 2)
    // shard isolation is a CONSTRUCTION invariant: within-shard seed
    // edges + NN-descent's 2-hop closure can never leave a shard
    assert(g.filter(pmod(col("query_id"), lit(shards)) =!=
      pmod(col("neighbor_id"), lit(shards))).count() === 0L,
      "an edge crossed a shard boundary")
    // exactly one entry per shard, inside its own shard, off the
    // vec_id < 10 probe set (the full-build self-filter lesson)
    val es = entries.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(es.map(_._1).toSet === (0L until shards).toSet)
    assert(es.length === shards)
    assert(es.forall { case (sh, e) => e % shards == sh },
      "an entry node sits outside its shard")
    assert(es.forall(_._2 >= 10L), "an entry node is on the probe set")
    // build is deterministic (blocked seed + NN-descent are pure
    // integer/rounded-cosine algebra)
    val (g2, _) = Similarity.buildGraphIndexSharded(
      nodes, "embedding", "vec_id", n, shards, k = 12, rounds = 2)
    def edgeSet(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgeSet(g) === edgeSet(g2), "sharded rebuild diverged")
    // store round-trip carries the fan-out shape; bare store rejected
    val path = s"${sys.props("java.io.tmpdir")}/graft_spec_shardstore"
    Similarity.writeShardedGraphIndex(g, entries, n, 12, shards, path)
    val (gs, ents, n2, k2, shards2) =
      Similarity.readShardedGraphIndex(spark, path)
    assert((n2, k2, shards2) === (n, 12, shards))
    assert(edgeSet(gs.select(col("query_id"), col("neighbor_id")))
      === edgeSet(g))
    assert(ents.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === es.toSet)
    val bare = s"${sys.props("java.io.tmpdir")}/graft_spec_shardbare"
    g.write.mode("overwrite").parquet(s"$bare/graph")
    entries.write.mode("overwrite").parquet(s"$bare/entries")
    intercept[IllegalArgumentException] {
      Similarity.readShardedGraphIndex(spark, bare)
    }
    // driver-row contracts at the spec SF: recall floor, isolation,
    // entry cover, full-k — and the rows-only key returns 10 x 5
    val r = Pipeline.dAnnGraphShardedRecall.fn(spark, sf).collect()(0)
    assert(r.getBoolean(1), "sharded fan-out recall under floor")
    assert(r.getBoolean(2), "stored edge list not shard-isolated")
    assert(r.getBoolean(3), "entry table does not cover the shards")
    assert(r.getBoolean(4), "merge thinned a result set below k")
    val rows = Pipeline.dAnnGraphSharded.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length === 50, s"expected 10 x 5, got ${rows.length}")
    assert(rows.forall(p => p._1 != p._2))
  }

  test("routed graph index: assignment isolation, centroid store binding, routed contracts, entry-seed exemption") {
    import graft.operators.Pipeline
    val nodes = graft.Tables.load(spark, sf, "embeddings")
    val n = nodes.count()
    val shards = Similarity.autoRoutedShards(n)
    val (g, entries, cents) = Similarity.buildGraphIndexRouted(
      nodes, "embedding", "vec_id", shards, k = 12, rounds = 2)
    // empty trained cells are dropped from the stored quantizer;
    // at the spec SF every cell is occupied so the counts agree
    assert(cents.length === shards)
    assert(cents.length >= 2)
    // shard isolation under the ASSIGNMENT (k-means cells, not pmod):
    // within-shard seed edges + the 2-hop closure never cross cells
    val assign = Similarity.shardAssign(nodes, "embedding", "vec_id", cents)
    val crossings = g
      .join(assign.select(col("id").as("query_id"), col("shard").as("qs")),
        Seq("query_id"))
      .join(assign.select(col("id").as("neighbor_id"), col("shard").as("ns")),
        Seq("neighbor_id"))
      .filter(col("qs") =!= col("ns")).count()
    assert(crossings === 0L, "an edge crossed a k-means shard boundary")
    // one entry per NON-EMPTY shard, inside its own shard, off the
    // probe set when the shard has any id >= 10
    val occupied = assign.select(col("shard")).distinct()
      .collect().map(_.getInt(0)).toSet
    val es = entries.collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(es.map(_._1).toSet === occupied)
    val assignMap = assign.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(es.forall { case (sh, e) => assignMap(e) == sh },
      "an entry node sits outside its own cell")
    // deterministic rebuild (quantizer sample, seeded hashes, integer
    // cosine algebra — all pure)
    val (g2, _, cents2) = Similarity.buildGraphIndexRouted(
      nodes, "embedding", "vec_id", shards, k = 12, rounds = 2)
    def edgeSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cents.map(_.toList).toList === cents2.map(_.toList).toList)
    assert(edgeSet(g) === edgeSet(g2), "routed rebuild diverged")
    // store round-trip carries edges + entries + CENTROIDS (the index
    // is only meaningful with the quantizer that assigned its shards);
    // bare and truncated-centroid stores are rejected
    val path = s"${sys.props("java.io.tmpdir")}/graft_spec_routedstore"
    Similarity.writeRoutedGraphIndex(g, entries, cents, n, 12, path)
    val (gs, ents, cs, n2, k2) = Similarity.readRoutedGraphIndex(spark, path)
    assert((n2, k2) === (n, 12))
    assert(cs.map(_.toList).toList === cents.map(_.toList).toList)
    assert(edgeSet(gs) === edgeSet(g))
    assert(ents.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      === es.toSet)
    val bare = s"${sys.props("java.io.tmpdir")}/graft_spec_routedbare"
    g.write.mode("overwrite").parquet(s"$bare/graph")
    entries.write.mode("overwrite").parquet(s"$bare/entries")
    intercept[IllegalArgumentException] {
      Similarity.readRoutedGraphIndex(spark, bare)
    }
    // the routed LIFECYCLE rows: tombstoned search refills deleted
    // slots, compaction rebuilds cells over survivors (one code path)
    val rd = Pipeline.dAnnGraphRoutedDeleteRecall.fn(spark, sf).collect()(0)
    assert(rd.getBoolean(1) && rd.getBoolean(2),
      "routed delete leg failed a contract")
    val rc = Pipeline.dAnnGraphRoutedCompactRecall.fn(spark, sf).collect()(0)
    assert(rc.getBoolean(1) && rc.getBoolean(2) && rc.getBoolean(3),
      "routed compaction leg failed a contract")
    // driver-row contracts: recall floor, probe bound, route subset,
    // full-k — and the rows-only key returns 10 x 5
    val r = Pipeline.dAnnGraphRoutedRecall.fn(spark, sf).collect()(0)
    assert(r.getBoolean(1), "routed recall under floor")
    assert(r.getBoolean(2), "probe bound violated (or shards < 4w)")
    assert(r.getBoolean(3), "a result escaped its query's route")
    assert(r.getBoolean(4), "merge thinned a result set below k")
    val rows = Pipeline.dAnnGraphRouted.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length === 50, s"expected 10 x 5, got ${rows.length}")
    assert(rows.forall(p => p._1 != p._2))
    // entry-seed exemption (ADVICE r15): a query that IS a shard's
    // entry node must still explore that shard — the seed beam keeps
    // the self row (expanding the query's own neighborhood) and the
    // self-filter applies from round 1 and at the merge. Before the
    // fix the self-filter emptied that shard's seed beam and the
    // shard contributed ZERO candidates (shard-closed edges mean no
    // later round can re-enter it).
    val pShards = Similarity.autoShards(n)
    val (pg, pEntries) = Similarity.buildGraphIndexSharded(
      nodes, "embedding", "vec_id", n, pShards, k = 12, rounds = 2)
    val entry0 = pEntries.orderBy(col("shard")).collect()(0)
    val entryQuery = nodes.filter(col("vec_id") === entry0.getLong(1))
    val got = Similarity.graphSearchTopKSharded(nodes, entryQuery, pg,
        pEntries, "embedding", "vec_id", pShards,
        k = pShards * 16, beamPerShard = 16, rounds = 4)
      .collect()
    assert(got.forall(r => r.getLong(1) != entry0.getLong(1)),
      "self row leaked through the final merge")
    assert(got.exists(r => r.getLong(1) % pShards == entry0.getLong(0)),
      "entry-coincident query lost its own shard (seed exemption broken)")
  }

  test("filtered layered graph search: matching-label results only, full result sets, recall contract") {
    import graft.operators.Pipeline
    val nodes = graft.Tables.load(spark, sf, "embeddings")
    val n = nodes.count()
    val (g, u, e) = Similarity.buildGraphIndexFull(
      nodes, "embedding", "vec_id", n, k = 12, rounds = 2)
    val q = nodes.filter(col("vec_id") < 10)
    val got = Similarity.graphSearchTopKLayeredFiltered(nodes, q, g, u,
        "embedding", "vec_id", "label", k = 5, beam = 96, rounds = 6,
        upperSeed = e)
      .join(nodes.select(col("vec_id").as("neighbor_id"),
        col("label").as("nl")), Seq("neighbor_id"))
      .join(nodes.select(col("vec_id").as("query_id"),
        col("label").as("ql")), Seq("query_id"))
      .collect()
    assert(got.forall(r => r.getAs[String]("nl") == r.getAs[String]("ql")),
      "a result violates its query's label predicate")
    assert(got.forall(r => r.getLong(0) != r.getLong(1)), "self-match")
    // the driver-row recall contract holds at the spec SF
    val r = Pipeline.dAnnGraphFilteredRecall.fn(spark, sf).collect()(0)
    assert(r.getBoolean(1), "filtered graph recall under floor")
    // ... and on the ROUTED index (selectivity-scaled probing)
    val rr = Pipeline.dAnnGraphRoutedFilteredRecall.fn(spark, sf)
      .collect()(0)
    assert(rr.getBoolean(1), "routed filtered recall under floor")
  }

  test("silhouette audit discriminates a geometric partition from the label partition") {
    import graft.operators.Pipeline
    val rows = Pipeline.dClusterSilhouette.fn(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val (vn, vw, vppm) = rows("voronoi")
    val (ln, lw, lppm) = rows("label")
    assert(vn === ln, "both partitions audit the same points")
    assert(vw <= vn && lw <= ln)
    // the metric must rank the genuinely geometric Voronoi partition
    // far above the non-geometric label partition on this space
    assert(vppm > 3 * lppm,
      s"no discrimination: voronoi $vppm vs label $lppm")
    // hand geometry: two tight separated clusters -> every point
    // well-placed under its own partition (a < b for all)
    import spark.implicits._
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat, 0.05f)
    val pts = Seq(
      (0L, v(1, 0)), (1L, v(0.99, 0.05)), (2L, v(0.98, 0.1)),
      (3L, v(0, 1)), (4L, v(0.05, 0.99)), (5L, v(0.1, 0.98)))
    val nodes = pts.toDF("vec_id", "embedding")
    val dist = nodes.select(col("vec_id").as("i"), col("embedding").as("iv"))
      .crossJoin(nodes.select(col("vec_id").as("j"), col("embedding").as("jv")))
      .filter(col("i") =!= col("j"))
      .select(col("i"), col("j"),
        expr("10000 - cast(round(graft_cosine(iv, jv) * 10000) as bigint)")
          .as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def meanD(i: Long, js: Seq[Long]) =
      js.map(j => dist((i, j))).sum * 1000 / js.length
    for (i <- 0L to 5L) {
      val own = (0L to 5L).filter(j => j != i && j / 3 == i / 3)
      val other = (0L to 5L).filter(_ / 3 != i / 3)
      assert(meanD(i, own) < meanD(i, other),
        s"point $i of the hand clusters must be well-placed")
    }
  }

  test("d_embed_prefix: full dim is perfect recall; truncation preserves ranks iff info lives in the prefix") {
    import graft.operators.Pipeline
    val out = Pipeline.dEmbedPrefix.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(64L)._3 === 100L, "full-dim recall must be exactly 100")
    out.values.foreach { case (nBrute, hits, pct) =>
      assert(hits <= nBrute && pct <= 100L)
    }
    // hand geometry: discriminating info entirely in the first 2 dims,
    // padding in the rest -> a 2-dim prefix keeps the ranking exactly
    import spark.implicits._
    def v(x: Double, y: Double) =
      Array(x.toFloat, y.toFloat, 0.5f, 0.5f)
    val nodes = Seq((0L, v(1, 0)), (1L, v(0.95, 0.3)), (2L, v(0, 1)),
      (3L, v(0.3, 0.95)), (4L, v(0.7, 0.7))).toDF("vec_id", "embedding")
    def top(p: Int) = {
      val cut = nodes.select(col("vec_id"),
        expr(s"slice(embedding, 1, $p)").as("embedding"))
      Similarity.bruteTopK(cut, cut, "embedding", "vec_id", k = 2)
        .select(col("query_id"), col("neighbor_id"), col("rnk"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(top(2) === top(4),
      "prefix truncation must be exact when the tail dims are constant")
  }

  test("ivf delta maintenance: store+delta is result-identical to a one-shot index build") {
    import graft.operators.Pipeline
    val cents = Pipeline.ivfSeedCentroids(emb)
    // the maintenance contract: assigning the halves separately (one
    // through the parquet store) and merging equals assigning the
    // full corpus in one shot against the same frozen quantizer
    val oneShot = Pipeline.ivfAssign(emb, cents)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val stored = Pipeline.ivfListStore(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val delta = Pipeline.ivfAssign(emb.filter(col("vec_id") % 2 === 1), cents)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored.forall(v => v._1 % 2 == 0) && delta.forall(v => v._1 % 2 == 1))
    assert((stored ++ delta) === oneShot,
      "store lifecycle must be result-identical to recompute")
    // the store really is the parquet round-trip of the even half
    assert(stored === oneShot.filter(_._1 % 2 == 0))
    // summary accounting: every vector in exactly one list
    val out = Pipeline.dAnnIvfDelta.fn(spark, sf).collect()
    assert(out.map(_.getLong(3)).sum === emb.count())
    out.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) === r.getLong(3))
    }
  }

  test("d_contamination_embed: argmax is exact, threshold splits flagged from clean, eval set excluded") {
    val out = graft.operators.Pipeline.dContaminationEmbed.fn(spark, sf)
      .collect()
    assert(out.nonEmpty)
    // eval rows (vec_id < 20) never appear as corpus rows; every
    // reported eval_id is in the eval set
    assert(out.forall(r => r.getLong(0) >= 20 &&
      r.getLong(1) >= 0 && r.getLong(1) < 20))
    // flag consistency with the reported max-cos
    out.foreach { r =>
      assert(r.getBoolean(3) === (r.getLong(2) >= 3500L),
        s"flag inconsistent at vec ${r.getLong(0)}")
    }
    // argmax exactness on a sample: recompute best eval for 5 vectors
    val emb = Tables.load(spark, sf, "embeddings")
    val sample = out.take(5).map(_.getLong(0)).toSet
    val best = Similarity.bruteTopK(
        emb.filter(col("vec_id") < 20),
        emb.filter(col("vec_id").isin(sample.toSeq: _*)),
        "embedding", "vec_id", k = 1)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), math.round(r.getDouble(2) * 10000))).toMap
    out.filter(r => sample(r.getLong(0))).foreach { r =>
      val (eid, cosm) = best(r.getLong(0))
      assert(r.getLong(1) === eid && r.getLong(2) === cosm,
        s"argmax mismatch at vec ${r.getLong(0)}")
    }
  }

  test("nn-descent: a round only improves, candidates stay bounded, and it repairs a planted miss") {
    import spark.implicits._
    // four tight clusters of 3, ids arranged so id%2 blocking splits
    // every cluster across blocks: the single-blocking seed cannot see
    // a same-parity clustermate's true nearest, the descent round
    // recovers it through the 2-hop path
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat, 0.1f)
    val pts = (0 until 4).flatMap { c =>
      val (bx, by) = (math.cos(c * 1.5), math.sin(c * 1.5))
      (0 until 3).map { j =>
        (c * 3L + j, v(bx + 0.01 * j, by + 0.01 * j))
      }
    }
    val nodes = pts.toDF("vec_id", "embedding")
    val brute = Similarity.bruteTopK(nodes, nodes, "embedding", "vec_id", k = 2)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val seed = Similarity.blockedTopK(nodes, "embedding", "vec_id", k = 2, blocks = 2)
    val refined = Similarity.nnDescentRound(nodes, seed, "embedding", "vec_id", k = 2)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (sp, rp) = (pairs(seed), pairs(refined))
    // every cluster of 3 is each member's true top-2; the refined
    // graph must recover ALL of them (clusters are within 2 hops of
    // any cross-cutting seed edge), strictly beating the seed
    assert((rp & brute).size === brute.size,
      s"descent must recover the planted clusters: ${(brute -- rp).toSeq.sorted}")
    assert((sp & brute).size < brute.size,
      "the blocked seed must actually be missing something for the test to bite")
    // candidate-bound sanity on real data: the refined graph keeps
    // k rows per node and never degrades the seed's best cosine
    val emb3 = emb.filter(col("vec_id") < 100)
    val s3 = Similarity.blockedTopK(emb3, "embedding", "vec_id", k = 3, blocks = 4)
    val r3 = Similarity.nnDescentRound(emb3, s3, "embedding", "vec_id", k = 3)
    val bestSeed = s3.filter(col("rnk") === 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val bestRef = r3.filter(col("rnk") === 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    bestSeed.foreach { case (q, c) =>
      assert(bestRef(q) >= c, s"node $q: refined best ${bestRef(q)} < seed best $c")
    }
  }

  test("filtered search: every neighbor shares the query's label, exact == brute-on-slice") {
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = Similarity.bruteTopKFiltered(emb, queries,
      "embedding", "vec_id", "label").collect()
    assert(got.nonEmpty)
    for (r <- got)
      assert(labels(r.getLong(1)) === labels(r.getLong(0)),
        s"neighbor ${r.getLong(1)} label mismatch for query ${r.getLong(0)}")
    // exact filtered == plain brute run per label slice
    for (ql <- got.map(r => labels(r.getLong(0))).distinct.take(2)) {
      val slice = emb.filter(col("label") === ql)
      val qs = queries.filter(col("label") === ql)
      val expect = Similarity.bruteTopK(slice, qs, "embedding", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val sub = got.filter(r => labels(r.getLong(0)) == ql)
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(sub === expect)
    }
  }

  test("d_embed_outlier: cosm5 is the exact 5th-best rounded cosine per vector") {
    import graft.operators.Pipeline
    val out = Pipeline.dEmbedOutlier.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.nonEmpty)
    val nodes = emb.filter(col("vec_id") < 600)
    val brute = Similarity.bruteTopK(nodes, nodes, "embedding", "vec_id", k = 5)
      .filter(col("rnk") === 5).collect()
      .map(r => r.getLong(0) -> math.round(r.getDouble(2) * 10000)).toMap
    for ((id, cosm5, flag) <- out) {
      assert(cosm5 === brute(id))
      assert(flag === (cosm5 < 2600))
    }
    // the threshold actually separates: some flagged, most not
    val flagged = out.count(_._3)
    assert(flagged > 0 && flagged < out.length / 2,
      s"threshold degenerate: $flagged of ${out.length}")
  }

  test("post-filter ANN: full result sets at the sized oversample, thin below it") {
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val sized = Similarity.ivfTopKFiltered(emb, queries,
      "embedding", "vec_id", "label", k = 5, oversample = 16,
      nlist = 16, nprobe = 8).collect()
    // selectivity 0.1, oversample 16 >= 1/s: every query fills its k
    val byQ = sized.groupBy(_.getLong(0))
    assert(byQ.size === queries.count())
    assert(byQ.values.forall(_.length === 5))
    for (r <- sized) assert(labels(r.getLong(1)) === labels(r.getLong(0)))
    // an UNDERSIZED oversample (1 << 1/s) starves at least one query —
    // the failure mode the oversample rule exists to prevent
    val thin = Similarity.ivfTopKFiltered(emb, queries,
      "embedding", "vec_id", "label", k = 5, oversample = 1,
      nlist = 16, nprobe = 8).collect()
    val thinByQ = thin.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(thinByQ.values.exists(_ < 5) || thinByQ.size < byQ.size,
      "oversample=1 unexpectedly produced full result sets")
  }
}
