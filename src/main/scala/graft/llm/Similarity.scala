package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Two tiers, as a training-data pipeline needs at 100 TB:
  *   - brute-force cosine top-k: broadcast the (small) probe set, scan the
  *     corpus once — exact, no corpus shuffle;
  *   - LSH-bucketed ANN: deterministic hash-derived random hyperplanes →
  *     sign signature → candidates share a bucket; corpus shuffles only
  *     (bucket, id, vec) and each probe compares against one bucket.
  * All arithmetic is sequential-fold (`aggregate`) in fixed order —
  * deterministic, codegen'd, no UDFs.
  */
object Similarity {

  /** Dot product of two equal-length numeric arrays (left-to-right fold,
    * element products in double — same arithmetic as the codegen'd
    * functions.VectorDotFloat fast path).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0d), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / nullif(norm(a) * norm(b), lit(0d))

  /** Integer-quantized cosine: elements scaled by `scale` and rounded to
    * BIGINT, so dot/norms are exact integer sums — bit-identical across
    * engines and partitionings (used by the oracle-checked queries).
    * Codegen'd kernel; [[quantizeHof]] is the composed form it replaced
    * (kept as the QuantizeKernelSpec reference — the staging projections
    * of every ANN row evaluated that lambda tree INTERPRETED, per
    * element, per corpus row).
    */
  def quantize(a: Column, scale: Int): Column =
    org.apache.spark.sql.graft.Shims.column(
      graft.functions.QuantizeRoundLong(
        org.apache.spark.sql.graft.Shims.expression(a), scale))

  /** Reference HOF form of [[quantize]] (tests only). */
  def quantizeHof(a: Column, scale: Int): Column =
    transform(a, x => round(x.cast("double") * scale).cast("long"))

  def cosineQuantized(a: Column, b: Column, scale: Int): Column = {
    val (qa, qb) = (quantize(a, scale), quantize(b, scale))
    val idot = aggregate(zip_with(qa, qb, (x, y) => x * y), lit(0L),
      (acc, x) => acc + x)
    val na = aggregate(transform(qa, x => x * x), lit(0L), (acc, x) => acc + x)
    val nb = aggregate(transform(qb, x => x * x), lit(0L), (acc, x) => acc + x)
    idot.cast("double") / nullif(sqrt(na.cast("double")) * sqrt(nb.cast("double")), lit(0d))
  }

  /** Exact brute-force top-k: for each probe, the k nearest corpus vectors
    * by cosine. Probe set must be small (it is broadcast); the corpus is
    * scanned once with no shuffle of vectors — only (probe_id, corpus_id,
    * sim) pairs move, pruned by the rank filter's partial-sort pushdown.
    *
    * Per-row work (quantization, squared norm) is STAGED in a projection on
    * each side BEFORE the join — the per-pair hot loop is a single codegen'd
    * dot product ([[graft.functions.VectorDot]]) plus two multiplies. The
    * arithmetic is identical to the interpreted fold (exact long sums for
    * the quantized tier; left-to-right double products for the float tier),
    * so oracle hashes are unchanged.
    */
  def bruteForceTopK(probes: DataFrame, corpus: DataFrame, k: Int,
      probeId: String = "probe_id", corpusId: String = "corpus_id",
      vecCol: String = "embedding", quantScale: Int = 0): DataFrame = {
    import graft.functions.VectorDot.{dotF, dotL}
    def prep(df: DataFrame, id: String, outId: String): DataFrame =
      if (quantScale > 0)
        df.select(col(id).as(outId),
            quantize(col(vecCol), quantScale).as("__v"))
          .select(col(outId), col("__v"),
            dotL(col("__v"), col("__v")).as("__n2"))
      else
        df.select(col(id).as(outId), col(vecCol).as("__v"))
          .select(col(outId), col("__v"),
            dotF(col("__v"), col("__v")).as("__n2"))
    val p = prep(probes, probeId, "probe_id").alias("p")
    val c = prep(corpus, corpusId, "corpus_id").alias("c")
    val pairDot =
      if (quantScale > 0)
        dotL(col("p.__v"), col("c.__v")).cast("double")
      else dotF(col("p.__v"), col("c.__v"))
    val sim = pairDot / nullif(
      sqrt(col("p.__n2").cast("double")) * sqrt(col("c.__n2").cast("double")),
      lit(0d))
    val scored = broadcast(p).crossJoin(c)
      .select(col("probe_id"), col("corpus_id"), sim.as("sim"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("corpus_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * xxhash64 mapped to [-1, 1). No RNG state — reproducible anywhere.
    */
  private def planeComponent(plane: Int, dim: Column): Column =
    (pmod(xxhash64(lit(plane), dim), lit(1000003L)).cast("double")
      / 500001.5) - 1.0

  /** Sign-LSH bucket id from `planes` hyperplanes (bit b = sign of
    * dot(plane_b, vec)).
    */
  def lshBucket(vec: Column, planes: Int): Column = {
    val bits = (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x.cast("double") * planeComponent(p, i)),
        lit(0d), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Trained IVF coarse quantizer: the (tiny) centroid table. Built ONCE,
    * offline, like any vector index; queries embed the centroids as plan
    * literals and never collect anything.
    */
  final case class IvfIndex(centroids: Seq[(Int, Seq[Double])]) {
    /** nearest-`n` cells of a vector as a pure scan-side expression:
      * array<struct<d2,cell>>, centroids inlined as literals.
      */
    private[llm] def cellsExpr(vec: Column, n: Int): Column = {
      val centArr = array(centroids.map { case (cell, cv) =>
        struct(array(cv.map(lit): _*).as("cvec"), lit(cell).as("cell"))
      }: _*)
      val scored = transform(centArr, c => struct(
        aggregate(zip_with(vec, c.getField("cvec"),
          (x, cc) => (x.cast("double") - cc) * (x.cast("double") - cc)),
          lit(0d), (acc, x) => acc + x).as("d2"),
        c.getField("cell").as("cell")))
      slice(array_sort(scored), 1, n)
    }
    def cellOf(vec: Column): Column =
      cellsExpr(vec, 1).getItem(0).getField("cell")
  }

  /** INDEX BUILD (offline, once): deterministic k-means-lite — centroids
    * seeded from hash-selected corpus vectors, refined by `iters` Lloyd
    * rounds. Each round is fully distributed: assignment is a scan-side
    * centroid-literal expression and the per-cell/dimension means are
    * partially aggregated map-side, so only nCells×dim partials shuffle.
    * The only driver transfer is the centroid table itself (nCells×dim
    * doubles) — the artifact being built.
    */
  def ivfTrain(corpus: DataFrame, nCells: Int, iters: Int = 2,
      corpusId: String = "corpus_id",
      vecCol: String = "embedding"): IvfIndex = {
    var index = IvfIndex(corpus
      .withColumn("__h", xxhash64(col(corpusId)))
      .orderBy("__h").limit(nCells)
      .select(transform(col(vecCol), _.cast("double")).as("cvec"))
      .collect().toSeq.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0)) })
    (0 until iters).foreach { _ =>
      index = IvfIndex(corpus
        .withColumn("cell", index.cellOf(col(vecCol)))
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("d", "x")))
        .groupBy("cell", "d").agg(avg(col("x")).as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("d"), col("m")))).as("dm"))
        .select(col("cell"),
          transform(col("dm"), s => s.getField("m")).as("cvec"))
        .collect().toSeq
        .map(r => (r.getInt(0), r.getSeq[Double](1))))
    }
    index
  }

  /** IVF ANN query: probes search only their `nprobe` nearest cells of a
    * pre-trained index. Pure plan — no driver work: cell assignment is a
    * centroid-literal expression on both sides and the probe side is
    * broadcast, so the corpus is scanned, never shuffled. At 100 TB the
    * corpus is written bucketed by `cell` ([[ivfWriteBucketed]]) and the
    * scan prunes to nprobe/nCells of the data.
    */
  def ivfTopK(probes: DataFrame, corpus: DataFrame, index: IvfIndex, k: Int,
      nprobe: Int = 2, probeId: String = "probe_id",
      corpusId: String = "corpus_id",
      vecCol: String = "embedding"): DataFrame = {
    val corpusCells = corpus.withColumn("cell", index.cellOf(col(vecCol)))
      .select(col("cell"), col(corpusId), col(vecCol).as("__cv"))
    ivfProbeJoin(probes, corpusCells, index, k, nprobe, probeId, corpusId,
      vecCol)
  }

  /** Write the corpus pre-assigned and bucketed by cell — the on-disk IVF
    * inverted-file layout. Queries against the bucketed table read only
    * matching buckets and the cell join needs no corpus-side exchange.
    */
  def ivfWriteBucketed(corpus: DataFrame, index: IvfIndex, table: String,
      nBuckets: Int, corpusId: String = "corpus_id",
      vecCol: String = "embedding"): Unit =
    corpus.withColumn("cell", index.cellOf(col(vecCol)))
      .select(col("cell"), col(corpusId), col(vecCol).as("__cv"))
      .write.mode("overwrite")
      .bucketBy(nBuckets, "cell").sortBy("cell")
      .format("parquet").saveAsTable(table)

  /** IVF query over a bucketed corpus table written by
    * [[ivfWriteBucketed]].
    */
  def ivfTopKBucketed(probes: DataFrame, bucketedTable: String,
      index: IvfIndex, k: Int, nprobe: Int = 2,
      probeId: String = "probe_id", corpusId: String = "corpus_id",
      vecCol: String = "embedding"): DataFrame = {
    val corpusCells = probes.sparkSession.table(bucketedTable)
    ivfProbeJoin(probes, corpusCells, index, k, nprobe, probeId, corpusId,
      vecCol)
  }

  private def ivfProbeJoin(probes: DataFrame, corpusCells: DataFrame,
      index: IvfIndex, k: Int, nprobe: Int, probeId: String,
      corpusId: String, vecCol: String): DataFrame = {
    val probeCells = probes.withColumn("__cells",
      transform(index.cellsExpr(col(vecCol), nprobe),
        c => c.getField("cell")))
      .select(col(probeId), col(vecCol).as("__pv"),
        explode(col("__cells")).as("cell"))
    val scored = broadcast(probeCells).join(corpusCells, "cell")
      .select(col(probeId).as("probe_id"), col(corpusId).as("corpus_id"),
        cosine(col("__pv"), col("__cv")).as("sim"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("corpus_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** ANN top-k via sign-LSH: probes only compare corpus vectors in the
    * same bucket. Recall < 1 by construction; scale path for when the
    * corpus no longer fits a broadcast-probe cross product.
    */
  def lshTopK(probes: DataFrame, corpus: DataFrame, k: Int, planes: Int,
      probeId: String = "probe_id", corpusId: String = "corpus_id",
      vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorDot.dotF
    // bucket + squared norm staged per ROW, so the per-pair work inside the
    // bucket join is one codegen'd dot product
    def prep(df: DataFrame, id: String, outId: String): DataFrame =
      df.select(col(id).as(outId), col(vecCol).as("__v"),
          lshBucket(col(vecCol), planes).as("bucket"))
        .select(col(outId), col("__v"), col("bucket"),
          dotF(col("__v"), col("__v")).as("__n2"))
    val p = prep(probes, probeId, "probe_id").alias("p")
    val c = prep(corpus, corpusId, "corpus_id").alias("c")
    val scored = broadcast(p).join(c, "bucket")
      .select(col("probe_id"), col("corpus_id"),
        (dotF(col("p.__v"), col("c.__v")) / nullif(
          sqrt(col("p.__n2")) * sqrt(col("c.__n2")), lit(0d))).as("sim"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("corpus_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Oracle-checkable ANN top-k via INTEGER sign-LSH: vectors quantized to
    * BIGINT (scale), buckets from the pure-integer LCG hyperplanes of
    * [[Dedup.signBands]], similarity = exact quantized cosine. Every
    * intermediate is exact integer arithmetic, so any engine derives the
    * identical buckets, candidates, and similarity — the DuckDB oracle
    * re-runs the whole ANN pipeline independently.
    *
    * Same 100-TB shape as [[lshTopK]]: candidates only ever meet through a
    * (band, sig) equi-join; vectors are never all-pairs compared.
    */
  def lshTopKQuantized(probes: DataFrame, corpus: DataFrame, k: Int,
      bands: Int = 1, bitsPerBand: Int = 8, scale: Int = 1000,
      probeId: String = "probe_id", corpusId: String = "corpus_id",
      vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorDot.dotL
    def prep(df: DataFrame, id: String, outId: String): DataFrame =
      df.select(col(id).as(outId), quantize(col(vecCol), scale).as("__v"))
        .select(col(outId), col("__v"), dotL(col("__v"), col("__v")).as("__n2"),
          explode(Dedup.signBands(col("__v"), bands, bitsPerBand)).as("__b"))
        .select(col(outId), col("__v"), col("__n2"),
          col("__b.band").as("band"), col("__b.sig").as("sig"))
    val p = prep(probes, probeId, "probe_id").alias("p")
    val c = prep(corpus, corpusId, "corpus_id").alias("c")
    // candidate set distinct over bands (a pair sharing 2 bands must score
    // once), then vectors re-joined — the minhashDupPairs/embed_dups shape
    val cand = broadcast(p.select(col("probe_id"), col("band"), col("sig")))
      .join(c.select(col("corpus_id"), col("band"), col("sig")),
        Seq("band", "sig"))
      .select(col("probe_id"), col("corpus_id")).distinct()
    val scored = cand
      .join(broadcast(p.select(col("probe_id"), col("__v").as("__pv"),
        col("__n2").as("__pn")).distinct()), "probe_id")
      .join(c.select(col("corpus_id"), col("__v").as("__cv"),
        col("__n2").as("__cn")).dropDuplicates("corpus_id"), "corpus_id")
      .select(col("probe_id"), col("corpus_id"),
        (dotL(col("__pv"), col("__cv")).cast("double") / nullif(
          sqrt(col("__pn").cast("double")) * sqrt(col("__cn").cast("double")),
          lit(0d))).as("sim"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("corpus_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Oracle-checkable IVF: the whole index life-cycle — deterministic
    * seeding, ONE exact-integer Lloyd refinement, cell assignment, probe
    * routing — as a single Spark plan over quantized vectors, nothing
    * collected. Seeds are the quantized vectors with id < nCells; the
    * refined centroid is the per-dimension floor(mean) (exact: integer sums
    * < 2^53 divided in double, floored). Every step is reproducible
    * arithmetic, so the DuckDB oracle independently re-trains the identical
    * index and re-derives the identical top-k.
    *
    * The production float path ([[ivfTrain]]/[[ivfTopK]], multi-iteration
    * Lloyd, offline centroid artifact, bucketed corpus layout) remains the
    * scale architecture; this variant exists so the driver can hash-grade
    * IVF end-to-end.
    */
  /** Exact-integer nearest-`keep` cell assignment of `(__id, __qv)` rows
    * against a `(__cell, __cv)` centroid table (broadcast — nCells rows).
    * The squared-L2 kernel is the codegen'd [[graft.functions.VectorDot]];
    * ties break on cell id so any engine re-derives the assignment.
    */
  private def assignCells(vecs: DataFrame, cents: DataFrame,
      keep: Int): DataFrame = {
    import graft.functions.VectorDot.dist2L
    val scored = vecs.crossJoin(broadcast(cents))
      .withColumn("__d2", dist2L(col("__qv"), col("__cv")))
    if (keep == 1)
      // argmin as a min_by aggregation: candidate scores combine
      // map-side, one row per id shuffles (ties break on cell id)
      scored.groupBy("__id")
        .agg(min_by(col("__cell"),
            struct(col("__d2"), col("__cell"))).as("__cell"),
          first(col("__qv")).as("__qv"))
        .select(col("__id"), col("__qv"), col("__cell"))
    else {
      val w = Window.partitionBy("__id").orderBy(col("__d2"), col("__cell"))
      scored.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= keep)
        .select(col("__id"), col("__qv"), col("__cell"))
    }
  }

  /** Deterministic quantized k-means index build over `(__id, __qv)`:
    * seeds = vectors with id < nCells, ONE exact-integer Lloyd round
    * (per-dimension floor-mean). Returns the persisted `(__cell, __cv)`
    * centroid table (tiny — it feeds broadcast assigns).
    */
  private def kmeansCentroidsQuantized(q: DataFrame,
      nCells: Int): DataFrame = {
    val seeds = q.filter(col("__id") < nCells)
      .select(col("__id").cast("int").as("__cell"), col("__qv").as("__cv"))
    val a1 = assignCells(q, seeds, keep = 1)
    // one Lloyd round: per-(cell, dim) floor-mean, reassembled in dim order
    a1.select(col("__cell"), posexplode(col("__qv")).as(Seq("__d", "__x")))
      .groupBy("__cell", "__d")
      .agg(floor(sum(col("__x")).cast("double") / count(lit(1)))
        .cast("long").as("__m"))
      .groupBy("__cell")
      .agg(array_sort(collect_list(struct(col("__d"), col("__m"))))
        .as("__dm"))
      .select(col("__cell"),
        transform(col("__dm"), s => s.getField("__m")).as("__cv"))
      // nCells tiny rows consumed by multiple broadcast-build assigns:
      // persist so the Lloyd round — which re-reads the whole corpus
      // assignment lineage — evaluates once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** K-means cluster assignment as a curation op: every vector labeled
    * with its cell from the same deterministic quantized index build as
    * [[ivfTopKQuantized]] (seeds = ids < nCells, one exact-integer Lloyd
    * round). Output (idCol, cell) — the building block for
    * diversity-aware curation: cluster-balanced sampling, per-topic
    * quotas, cluster-size pruning (tiny cells ≈ noise, huge cells ≈
    * boilerplate).
    *
    * 100-TB shape: centroids are nCells tiny rows (broadcast); each
    * vector scores against them scan-side; no vector-vector pair ever
    * forms. The float production tier stays [[ivfTrain]] (multi-round
    * Lloyd, offline artifact).
    */
  def kmeansCellsQuantized(corpus: DataFrame, nCells: Int,
      scale: Int = 1000, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = corpus.select(col(idCol).as("__id"),
      quantize(col(vecCol), scale).as("__qv"))
    assignCells(q, kmeansCentroidsQuantized(q, nCells), keep = 1)
      .select(col("__id").as(idCol), col("__cell").cast("int").as("cell"))
  }

  def ivfTopKQuantized(probes: DataFrame, corpus: DataFrame, nCells: Int,
      k: Int, nprobe: Int = 2, scale: Int = 1000,
      probeId: String = "probe_id", corpusId: String = "corpus_id",
      vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorDot.{dist2L, dotL}
    val q = corpus.select(col(corpusId).as("__id"),
      quantize(col(vecCol), scale).as("__qv"))
    val cent2 = kmeansCentroidsQuantized(q, nCells)
    val corpusCells = assignCells(q, cent2, keep = 1)
      .select(col("__id").as("corpus_id"), col("__qv").as("__cqv"),
        col("__cell"), dotL(col("__qv"), col("__qv")).as("__cn"))
    val probeCells = assignCells(
      probes.select(col(probeId).as("__id"),
        quantize(col(vecCol), scale).as("__qv")),
      cent2, keep = nprobe)
      .select(col("__id").as("probe_id"), col("__qv").as("__pqv"),
        col("__cell"), dotL(col("__qv"), col("__qv")).as("__pn"))
    val scored = broadcast(probeCells).join(corpusCells, "__cell")
      .select(col("probe_id"), col("corpus_id"),
        (dotL(col("__pqv"), col("__cqv")).cast("double") / nullif(
          sqrt(col("__pn").cast("double")) * sqrt(col("__cn").cast("double")),
          lit(0d))).as("sim"))
    // no dedupe needed: each corpus vector lives in exactly one cell, so a
    // (probe, corpus) pair meets at most once even with nprobe > 1
    val w = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("corpus_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ / ADC) — the COMPRESSION tier of the ANN
  // stack (Jégou et al., "Product Quantization for Nearest Neighbor
  // Search", TPAMI 2011): IVF routes, LSH buckets, PQ shrinks the
  // vectors themselves. Each vector splits into `m` subvectors; each
  // subvector is replaced by the id of its nearest codeword from a
  // per-subspace codebook of `ksub` entries — m small ints instead of
  // d floats (64-dim float32 → m=8 bytes is a 32× memory cut). Queries
  // score by Asymmetric Distance Computation: the probe builds an
  // m × ksub lookup table of exact subspace distances once, and each
  // corpus vector's approximate distance is m table lookups summed —
  // no corpus vector is ever decoded.
  //
  // 100-TB shape: codebooks are m × ksub tiny rows (broadcast); encoding
  // is a scan-side argmin against them; the ADC scan joins the encoded
  // corpus (exploded to (id, subspace, code)) against the broadcast LUT
  // and map-side-combines the per-id sums — no vector ever shuffles, no
  // pair blow-up beyond (corpus × m) thin rows. Like ivfTopKQuantized,
  // the index build here is deterministic exact-integer (seeds = ids <
  // ksub, one floor-mean Lloyd round) so any engine re-derives codebooks,
  // codes, and distances bit-identically; a float multi-round trainer
  // would slot in the same plan shape.
  // ------------------------------------------------------------------

  /** Per-subspace exploded view: (__id, __j, __sv) — subvector j of each
    * quantized vector (trailing dim % m elements drop on both engines
    * identically).
    */
  private def pqSubs(q: DataFrame, m: Int): DataFrame = {
    val subLen = floor(size(col("__qv")) / lit(m)).cast("int")
    q.select(col("__id"), posexplode(transform(sequence(lit(0), lit(m - 1)),
        j => slice(col("__qv"), j * subLen + 1, subLen))))
      .select(col("__id"), col("pos").as("__j"), col("col").as("__sv"))
  }

  /** Deterministic PQ codebooks: per subspace, seeds = subvectors of ids
    * < ksub, one exact-integer Lloyd round (floor-mean). Returns the tiny
    * (__j, __cid, __cv) table, persisted (it feeds three broadcast
    * joins).
    */
  private def pqCodebooks(subs: DataFrame, ksub: Int): DataFrame = {
    import graft.functions.VectorDot.dist2L
    val seeds = subs.filter(col("__id") < ksub)
      .select(col("__j"), col("__id").cast("int").as("__cid"),
        col("__sv").as("__cv"))
    // argmin as a min_by AGGREGATION, not a row_number window: the
    // candidate scores combine map-side, so only one row per (id, j)
    // ever shuffles (ties break on cid via the struct ordering)
    val a1 = subs.join(broadcast(seeds), "__j")
      .withColumn("__d2", dist2L(col("__sv"), col("__cv")))
      .groupBy("__id", "__j")
      .agg(min_by(col("__cid"),
          struct(col("__d2"), col("__cid"))).as("__cid"),
        first(col("__sv")).as("__sv"))
      .select(col("__j"), col("__cid"), col("__sv"))
    a1.select(col("__j"), col("__cid"),
        posexplode(col("__sv")).as(Seq("__d", "__x")))
      .groupBy("__j", "__cid", "__d")
      .agg(floor(sum(col("__x")).cast("double") / count(lit(1)))
        .cast("long").as("__m"))
      .groupBy("__j", "__cid")
      .agg(array_sort(collect_list(struct(col("__d"), col("__m"))))
        .as("__dm"))
      .select(col("__j"), col("__cid"),
        transform(col("__dm"), s => s.getField("__m")).as("__cv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Nearest-codeword assignment of exploded subvectors against a
    * broadcast codebook: (__id, __j, __code).
    */
  private def pqAssign(subs: DataFrame, books: DataFrame): DataFrame = {
    import graft.functions.VectorDot.dist2L
    subs.join(broadcast(books), "__j")
      .withColumn("__d2", dist2L(col("__sv"), col("__cv")))
      .groupBy("__id", "__j")
      .agg(min_by(col("__cid"),
        struct(col("__d2"), col("__cid"))).as("__code"))
      .select(col("__id"), col("__j"), col("__code"))
  }

  /** PQ-encode a corpus: each vector becomes its m-code array — the
    * compressed representation an ADC scan serves from. Returns
    * (idCol, codes ARRAY<INT>).
    */
  def pqEncode(corpus: DataFrame, m: Int, ksub: Int, scale: Int = 1000,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = corpus.select(col(idCol).as("__id"),
      quantize(col(vecCol), scale).as("__qv"))
    val subs = pqSubs(q, m)
    pqAssign(subs, pqCodebooks(subs, ksub))
      .groupBy("__id")
      .agg(array_sort(collect_list(struct(col("__j"), col("__code"))))
        .as("__jc"))
      .select(col("__id").as(idCol),
        transform(col("__jc"), s => s.getField("__code")).as("codes"))
  }

  /** PQ top-k by Asymmetric Distance Computation: probes stay exact
    * (quantized), the corpus is served from its PQ codes only. Output
    * (probe_id, corpus_id, ad2 = approximate squared L2 distance, rk).
    * Exact integer arithmetic end to end — the graded query's DuckDB
    * oracle re-trains the codebooks and re-derives every code and lookup.
    */
  def pqTopK(probes: DataFrame, corpus: DataFrame, m: Int, ksub: Int,
      k: Int, scale: Int = 1000, probeId: String = "probe_id",
      corpusId: String = "corpus_id",
      vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorDot.dist2L
    val q = corpus.select(col(corpusId).as("__id"),
      quantize(col(vecCol), scale).as("__qv"))
    val subs = pqSubs(q, m)
    val books = pqCodebooks(subs, ksub)
    val codes = pqAssign(subs, books)
    // probe LUT: exact distance from each probe subvector to EVERY
    // codeword of its subspace — nprobes × m × ksub tiny rows, broadcast
    val probeSubs = pqSubs(probes.select(col(probeId).as("__id"),
      quantize(col(vecCol), scale).as("__qv")), m)
    val lut = probeSubs.join(broadcast(books), "__j")
      .select(col("__id").as("probe_id"), col("__j"),
        col("__cid").as("__code"), dist2L(col("__sv"), col("__cv")).as("__d2"))
    // ADC: m lookups per (probe, corpus id), map-side combined
    val scored = codes.join(broadcast(lut), Seq("__j", "__code"))
      .groupBy(col("probe_id"), col("__id").as("corpus_id"))
      .agg(sum(col("__d2")).as("ad2"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("ad2"), col("corpus_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** IVF-PQ composite (the IVFADC architecture of Jégou et al. 2011,
    * minus residual re-centering — documented choice: codebooks train on
    * raw subvectors, which keeps every stage exactly re-derivable by the
    * oracle while preserving the plan shape): IVF cells ROUTE — each
    * probe scans only its `nprobe` nearest cells' candidates — and PQ
    * codes SERVE — candidates are scored from their m-code arrays via
    * the probe's ADC lookup table, never from raw vectors.
    *
    * 100-TB shape: centroids and codebooks are tiny broadcast tables;
    * the corpus exists at query time as (id, cell, m codes) — bytes per
    * vector, cell-prunable — and the only join fan-out is candidates ×
    * m thin rows against a broadcast LUT, map-side combined. This is
    * the memory-resident serving tier for corpora whose raw vectors
    * only live on disk.
    */
  def ivfPqTopK(probes: DataFrame, corpus: DataFrame, nCells: Int,
      m: Int, ksub: Int, k: Int, nprobe: Int = 2, scale: Int = 1000,
      probeId: String = "probe_id", corpusId: String = "corpus_id",
      vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorDot.dist2L
    val q = corpus.select(col(corpusId).as("__id"),
      quantize(col(vecCol), scale).as("__qv"))
    // coarse router: deterministic quantized k-means over full vectors
    val cents = kmeansCentroidsQuantized(q, nCells)
    val corpusCells = assignCells(q, cents, keep = 1)
      .select(col("__id"), col("__cell"))
    // fine quantizer: PQ codes over the same corpus
    val subs = pqSubs(q, m)
    val books = pqCodebooks(subs, ksub)
    val codes = pqAssign(subs, books)
    // the serving artifact: (id, cell, j, code) — join is on the tiny
    // id-partitioned frames built above, computed once per index build
    val served = codes.join(corpusCells, "__id")
    // probe side: route to nprobe cells, build the exact ADC table
    val probesQ = probes.select(col(probeId).as("__id"),
      quantize(col(vecCol), scale).as("__qv"))
    val probeCells = assignCells(probesQ, cents, keep = nprobe)
      .select(col("__id").as("probe_id"), col("__cell"))
    val lut = pqSubs(probesQ, m).join(broadcast(books), "__j")
      .select(col("__id").as("probe_id"), col("__j"),
        col("__cid").as("__code"),
        dist2L(col("__sv"), col("__cv")).as("__d2"))
    // candidates = corpus rows in a routed cell; ADC = m lookups summed
    val scored = served
      .join(broadcast(probeCells), "__cell")
      .join(broadcast(lut), Seq("probe_id", "__j", "__code"))
      .groupBy(col("probe_id"), col("__id").as("corpus_id"))
      .agg(sum(col("__d2")).as("ad2"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("ad2"), col("corpus_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** SEMANTIC dedup (the SemDeDup recipe): cluster embeddings into cells,
    * compare pairs ONLY within a cell, and drop every vector that has a
    * sufficiently-cosine-similar neighbor with a smaller id — one
    * representative survives per near-duplicate set (transitively within
    * the cell: the min id keeps, everything similar to a smaller id
    * drops). This is the dedup tier between exact/MinHash (surface text)
    * and nothing: paraphrases and re-encodings that share no n-grams.
    *
    * 100-TB shape: the cell assignment bounds the pair blow-up — pairs
    * are cell-local (equi-join on cell), never corpus × corpus. Cells
    * here come from nearest-of-nCells seeds (ids < nCells) so the whole
    * pipeline is exact integer arithmetic any engine re-derives; the
    * production path swaps in a trained [[ivfTrain]] index (same plan:
    * assignment literals + cell equi-join) and writes the corpus
    * cell-bucketed ([[ivfWriteBucketed]]) so the pair join is
    * exchange-free.
    *
    * Returns one row per corpus vector: (id, cell, dup_of = smallest
    * similar-enough smaller id or NULL, keep = dup_of IS NULL).
    */
  def semanticDedup(corpus: DataFrame, nCells: Int, threshold: Double,
      scale: Int = 1000, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorDot.{dist2L, dotL}
    val q = corpus.select(col(idCol).as("__id"),
      quantize(col(vecCol), scale).as("__qv"))
    val seeds = q.filter(col("__id") < nCells)
      .select(col("__id").cast("int").as("__cell"), col("__qv").as("__cv"))
    val w = Window.partitionBy("__id").orderBy(col("__d2"), col("__cell"))
    val assigned = q.crossJoin(broadcast(seeds))
      .withColumn("__d2", dist2L(col("__qv"), col("__cv")))
      .withColumn("__rk", row_number().over(w)).filter(col("__rk") === 1)
      .select(col("__id"), col("__qv"), col("__cell"),
        dotL(col("__qv"), col("__qv")).as("__n2"))
      // the cell table feeds both sides of the pair join and the final
      // left join — evaluate the assignment once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = assigned.select(col("__cell"), col("__id").as("id_a"),
      col("__qv").as("__va"), col("__n2").as("__na"))
    val b = assigned.select(col("__cell"), col("__id").as("id_b"),
      col("__qv").as("__vb"), col("__n2").as("__nb"))
    val dupOf = a.join(b, Seq("__cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_b"),
        (dotL(col("__va"), col("__vb")).cast("double") / nullif(
          sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double")),
          lit(0d))).as("__sim"), col("id_a"))
      .filter(col("__sim") > threshold)
      .groupBy(col("id_b")).agg(min(col("id_a")).as("dup_of"))
    assigned.join(dupOf, assigned("__id") === dupOf("id_b"), "left")
      .select(col("__id").as(idCol), col("__cell").cast("int").as("cell"),
        col("dup_of"), col("dup_of").isNull.as("keep"))
  }
}
