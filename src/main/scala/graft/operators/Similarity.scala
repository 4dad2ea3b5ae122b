package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Similarity search over embedding columns (SURVEY.md §2d): brute-force
  * cosine top-k as the exact baseline, and random-hyperplane LSH bucketing
  * as the scale path.
  *
  * Hyperplane LSH follows Charikar (STOC 2002, sign-random-projection);
  * the query-side probing of adjacent buckets follows multi-probe LSH
  * (Lv, Josephson, Wang, Charikar & Li, VLDB 2007).
  *
  * Scale design: brute force is O(queries·corpus) — correct, and the right
  * answer when the query set is small (it broadcasts; the corpus streams
  * through map-side with NO shuffle of the big side). The LSH variant
  * assigns every vector a bucket from the sign pattern of `nPlanes`
  * deterministic hyperplanes; each query probes only its own bucket, so the
  * pair space shrinks ~2^nPlanes-fold and the only shuffle keys on the
  * bucket id. Recall is probabilistic (standard LSH trade-off) — the
  * driver records a rows-only check for it, the exact baseline is the
  * oracle-checked operator.
  */
object Similarity {

  /** Fixed-point scale for the k-means centroid update: element sums are
    * computed over `floor(x · 2²⁰)` longs, which add EXACTLY in any order
    * — the update is deterministic across partitionings, retries, and
    * engines (a plain double sum would vary in the last ulp with Spark's
    * partial-aggregation order and could flip an argmax assignment). */
  val KmeansQuant: Double = 1048576.0 // 2^20: power of two ⇒ x·Q exact

  /** Deterministic fixed-iteration Lloyd's k-means over an embedding
    * column — the trained coarse quantizer behind [[ivfTopK]],
    * [[cosinePairsCellPruned]] and [[buildIvfIndex]]. Returns the centroid
    * table (__cid, __cv array<double>, __cn2).
    *
    * Determinism contract (what makes this oracle-checkable):
    *  - init: the `nCells` lowest-id corpus vectors (no RNG);
    *  - assignment: argmax cosine with ties to the LOWEST centroid id
    *    (`max_by` over a (cos, -cid) struct — totally ordered);
    *  - update: per-dimension mean via the [[KmeansQuant]] fixed-point
    *    sum (order-independent long arithmetic) and ONE double division
    *    `s / (Q · count)` — bit-identical in any engine;
    *  - empty cells keep their previous centroid (never die, never NaN);
    *  - fixed `iters`, no convergence test — the round count IS the spec.
    *
    * Scale: each iteration is one broadcast join + `max_by` partial agg
    * (shuffle = one row per vector) and one (cell, dim)-keyed sum with
    * map-side partials (shuffle ≤ partitions · nCells · dim rows). At
    * 100 TB train on a deterministic sample (`idCol % stride = 0`) — the
    * codebook needs distribution coverage, not every row. */
  def trainCentroids(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      iters: Int): DataFrame = {
    // consumed once per Lloyd round (plus the seed scan) — materialize
    // the norm'd corpus once instead of re-scanning per iteration
    val n = emb.select(col(idCol), col(vecCol), norm2(col(vecCol)).as("__n2"))
      .transform(graft.functions.Pin.lazily)
    // seed = the nCells LOWEST-id vectors (TakeOrderedAndProject — a top-k,
    // not a sort): correct for sparse or non-zero-based id spaces, where a
    // plain `id < nCells` filter would silently under-seed the codebook
    var cent = n.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).as("__cid"),
        transform(col(vecCol), x => x.cast("double")).as("__cv"))
      .transform(graft.functions.Pin.lazily)
    for (_ <- 0 until iters) {
      val cn = cent.select(col("__cid"), col("__cv"), norm2(col("__cv")).as("__cn2"))
      val cellCos =
        cosineFromNorms(dotD(col(vecCol), col("__cv")), col("__n2"), col("__cn2"))
      val assigned = n.join(broadcast(cn))
        .select(col(idCol), col(vecCol), col("__cid"), cellCos.as("__ccos"))
        .groupBy(col(idCol))
        .agg(
          max_by(col("__cid"), struct(col("__ccos"), -col("__cid"))).as("__cell"),
          first(col(vecCol)).as(vecCol))
      val cnt = assigned.groupBy(col("__cell")).agg(count(lit(1)).as("__cnt"))
      val sums = assigned
        .select(col("__cell"), posexplode(col(vecCol)).as(Seq("__pos", "__x")))
        .select(col("__cell"), col("__pos"),
          floor(col("__x").cast("double") * lit(KmeansQuant)).as("__q"))
        .groupBy(col("__cell"), col("__pos"))
        .agg(sum(col("__q")).as("__s"))
      val means = sums.join(cnt, Seq("__cell"))
        .select(col("__cell"), col("__pos"),
          (col("__s").cast("double") / (lit(KmeansQuant) * col("__cnt").cast("double")))
            .as("__m"))
        .groupBy(col("__cell"))
        .agg(transform(array_sort(collect_list(struct(col("__pos"), col("__m")))),
          x => x.getField("__m")).as("__mv"))
      cent = cent.join(means, cent("__cid") === means("__cell"), "left")
        .select(col("__cid"), coalesce(col("__mv"), col("__cv")).as("__cv"))
        .transform(graft.functions.Pin.lazily)
    }
    cent.select(col("__cid"), col("__cv"), norm2(col("__cv")).as("__cn2"))
  }

  /** Centroid table for the IVF-style operators: `kmeansIters = 0` is the
    * raw deterministic seed set (the nCells lowest-id vectors, the
    * oracle-simplest form); `> 0` runs [[trainCentroids]], which bounds
    * cell skew — the thing that decides probe cost at 100 TB. */
  private def centroidsOf(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      kmeansIters: Int): DataFrame =
    if (kmeansIters <= 0)
      emb.select(col(idCol), col(vecCol), norm2(col(vecCol)).as("__n2"))
        .orderBy(col(idCol)).limit(nCells)
        .select(col(idCol).as("__cid"), col(vecCol).as("__cv"), col("__n2").as("__cn2"))
    else trainCentroids(emb, idCol, vecCol, nCells, kmeansIters)

  /** d5-style exact near-dup pairs: all pairs with cosine ≥ threshold.
    * O(n²/2) pair space — kept exact intentionally (it IS the oracle
    * semantics); at corpus scale use [[lshTopK]] or MinHash instead.
    * Squared norms are computed once per vector before the self-join. */
  def cosinePairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val withNorm = emb.select(col(idCol), col(vecCol), norm2(col(vecCol)).as("__n2"))
    withNorm.as("a")
      .join(withNorm.as("b"), col(s"a.$idCol") < col(s"b.$idCol"))
      .select(
        col(s"a.$idCol").as("ida"), col(s"b.$idCol").as("idb"),
        cosineFromNorms(dotD(col(s"a.$vecCol"), col(s"b.$vecCol")),
          col("a.__n2"), col("b.__n2")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** d6: the SCALE path for exact cosine near-dup pairs — identical output
    * to [[cosinePairs]] (so the same all-pairs SQL oracle hash-checks it),
    * reached without the O(n²) theta self-join.
    *
    * Metric-pruning design (the exactness argument is the spherical
    * triangle inequality, as used in metric trees / FAISS-style coarse
    * quantization — Omohundro 1989 ball trees; Jégou et al. TPAMI 2011
    * for the IVF cell structure):
    *
    *  1. assign every vector to its argmax-cosine centroid cell
    *     (deterministic centroids = lowest-id corpus vectors, exactly as
    *     [[ivfTopK]]; broadcast join + `max_by` partial agg — the shuffle
    *     carries one row per vector);
    *  2. per cell, aggregate the max angular radius r(c) = max θ(v, c)
    *     (tiny: nCells rows);
    *  3. enumerate cell PAIRS (nCells² rows, broadcast-sized) and keep
    *     those with θ(ca, cb) ≤ r(ca) + θ_t + r(cb): angles on the unit
    *     sphere obey the triangle inequality, so a qualifying vector pair
    *     θ(a,b) ≤ θ_t cannot live in a pruned cell pair — NO false
    *     negatives, deterministically, at any scale factor;
    *  4. fan vectors out over their cell's surviving partner cells and
    *     equi-join on the partner cell id (hash-partitioned, AQE-skew
    *     splittable — NOT a nested loop); `ida < idb` dedup and the exact
    *     cosine threshold are post-join filters.
    *
    * Pruning power tracks how clustered the data is (real embedding
    * corpora cluster; uniform-random vectors are the worst case) while
    * correctness never depends on it — the candidate set only shrinks
    * below n² when cells are tighter than the threshold angle. For high
    * thresholds (true near-dups, cos ≥ 0.9) the candidate space collapses
    * to near-diagonal cell pairs.
    *
    * The assignment feeds three consumers (radii, both join sides), so it
    * is materialized once via lazy localCheckpoint. At 100 TB,
    * materialize it to a cell-bucketed table instead — it is also the IVF
    * index [[ivfTopK]] probes, so the two operators share one build. */
  def cosinePairsCellPruned(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nCells: Int,
      kmeansIters: Int = 0,
      precomputedCentroids: Option[DataFrame] = None): DataFrame = {
    val thetaT = math.acos(math.min(1.0, math.max(-1.0, threshold)))
    val eps = 1e-9 // float→double rounding slack on the radius bound
    val n = emb.select(col(idCol), col(vecCol), norm2(col(vecCol)).as("__n2"))
    // exactness never depends on the centroids (the triangle-inequality
    // bound uses the REALIZED per-cell radii) — training only tightens
    // the radii, which prunes more cell pairs. A caller that amortizes
    // training across runs passes the MATERIALIZED codebook
    // ((__cid, __cv, __cn2), e.g. [[trainCentroids]] + localCheckpoint)
    // and pays only assignment + join here.
    val cent = precomputedCentroids.getOrElse(
      centroidsOf(emb, idCol, vecCol, nCells, kmeansIters))
    val cellCos = cosineFromNorms(dotD(col(vecCol), col("__cv")), col("__n2"), col("__cn2"))
    def angle(c: org.apache.spark.sql.Column) = acos(least(greatest(c, lit(-1.0)), lit(1.0)))

    // (1) one row per vector: its cell and the angle to that centroid.
    // Materialized once (lazy localCheckpoint): three consumers (radii,
    // both join sides) would otherwise re-run the assignment — column
    // pruning specializes the radii branch, which defeats AQE exchange
    // reuse there. At 100 TB this is the index build you persist to a
    // cell-bucketed table instead (shared with ivfTopK).
    val assigned = n.join(broadcast(cent))
      .select(col(idCol), col(vecCol), col("__n2"), col("__cid"), cellCos.as("__ccos"))
      .groupBy(col(idCol))
      .agg(
        max_by(col("__cid"), struct(col("__ccos"), -col("__cid"))).as("__cell"),
        angle(max(col("__ccos"))).as("__theta"),
        first(col(vecCol)).as(vecCol), first(col("__n2")).as("__n2"))
      .transform(graft.functions.Pin.lazily)

    // (2) per-cell angular radius — nCells rows
    val radii = assigned.groupBy(col("__cell")).agg(max(col("__theta")).as("__r"))

    // (3) ordered cell pairs surviving the triangle-inequality bound
    val cc = cent.as("x").crossJoin(cent.as("y"))
      .select(col("x.__cid").as("__ca"), col("y.__cid").as("__cb"),
        angle(cosineFromNorms(dotD(col("x.__cv"), col("y.__cv")),
          col("x.__cn2"), col("y.__cn2"))).as("__tcc"))
    val cellPairs = cc
      .join(radii.select(col("__cell").as("__ca"), col("__r").as("__ra")), Seq("__ca"))
      .join(radii.select(col("__cell").as("__cb"), col("__r").as("__rb")), Seq("__cb"))
      .filter(col("__tcc") <= col("__ra") + col("__rb") + lit(thetaT + eps))
      .select(col("__ca"), col("__cb"))

    // (4) fan out a-side over partner cells, equi-join b-side on the cell
    val a = assigned.select(col(idCol).as("ida"), col(vecCol).as("__va"),
      col("__n2").as("__na2"), col("__cell").as("__ca"))
    val b = assigned.select(col(idCol).as("idb"), col(vecCol).as("__vb"),
      col("__n2").as("__nb2"), col("__cell").as("__cb"))
    a.join(broadcast(cellPairs), Seq("__ca"))
      .join(b, Seq("__cb"))
      .filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        cosineFromNorms(dotD(col("__va"), col("__vb")),
          col("__na2"), col("__nb2")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** p5: SEMANTIC dedup — SemDeDup (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", 2023): k-means-cluster the embeddings, call any
    * within-cell pair at cosine ≥ threshold a semantic duplicate, and in
    * each duplicate group KEEP the member least similar to its centroid
    * (the paper's diversity-preserving policy; ties to the lowest id) —
    * near-duplicate web pages, boilerplate variants, and re-crawls
    * collapse to one representative without any text comparison.
    *
    * Within-cell-ONLY pairing is the published algorithm, not an
    * approximation of [[cosinePairs]]: the cells bound the quadratic term
    * (n²/nCells per cell in expectation, AQE-splittable on the cell key)
    * and cross-cell pairs are deliberately out of scope. For the
    * provably-exact pair set at a threshold, use
    * [[cosinePairsCellPruned]] (d6) instead.
    *
    * Deterministic end to end: trained codebook ([[trainCentroids]] —
    * fixed-iteration, integer-quantized), argmax-cosine assignment with
    * lowest-id ties, connected components over the dup pairs
    * ([[Components.connectedComponents]]), min-(ccos, id) keeper. Output
    * one row per vector: cell, duplicate-cluster id (self for
    * singletons), cluster size, keep ∈ {0,1}. */
  def semDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nCells: Int,
      kmeansIters: Int = 0): DataFrame = {
    val n = emb.select(col(idCol), col(vecCol), norm2(col(vecCol)).as("__n2"))
    val cent = centroidsOf(emb, idCol, vecCol, nCells, kmeansIters)
    val cellCos = cosineFromNorms(dotD(col(vecCol), col("__cv")), col("__n2"), col("__cn2"))
    // one row per vector: chosen cell + the cosine TO that cell (feeds the
    // pair join twice and the keeper policy — materialize once)
    val assigned = n.join(broadcast(cent))
      .select(col(idCol), col(vecCol), col("__n2"), col("__cid"), cellCos.as("__ccos"))
      .groupBy(col(idCol))
      .agg(
        max_by(col("__cid"), struct(col("__ccos"), -col("__cid"))).as("__cell"),
        max(col("__ccos")).as("__ccos"),
        first(col(vecCol)).as(vecCol), first(col("__n2")).as("__n2"))
      .transform(graft.functions.Pin.lazily)
    val a = assigned.select(col(idCol).as("ida"), col(vecCol).as("__va"),
      col("__n2").as("__na2"), col("__cell"))
    val b = assigned.select(col(idCol).as("idb"), col(vecCol).as("__vb"),
      col("__n2").as("__nb2"), col("__cell"))
    val pairs = a.join(b, Seq("__cell"))
      .filter(col("ida") < col("idb"))
      .filter(cosineFromNorms(dotD(col("__va"), col("__vb")),
        col("__na2"), col("__nb2")) >= threshold)
      .select(col("ida"), col("idb"))
    val cc = Components.connectedComponents(pairs, "ida", "idb")
    val member = cc.join(
      assigned.select(col(idCol).as("id"), col("__ccos")), Seq("id"))
    val clusters = member.groupBy(col("component_id")).agg(
      min_by(col("id"), struct(col("__ccos"), col("id"))).as("__keep_id"),
      count(lit(1)).as("__csize"))
    assigned.select(col(idCol), col("__cell").as("cell"))
      .join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .join(clusters, Seq("component_id"), "left")
      .select(
        col(idCol),
        col("cell"),
        coalesce(col("component_id"), col(idCol)).as("cluster_id"),
        coalesce(col("__csize"), lit(1L)).as("cluster_size"),
        when(col("component_id").isNull || col("__keep_id") === col(idCol), 1L)
          .otherwise(0L).as("keep"))
  }

  /** Materialize the IVF cell assignment — (id, vector, norm², cell) —
    * as a CELL-BUCKETED table: the shared index build behind [[ivfTopK]]
    * and [[cosinePairsCellPruned]], persisted so repeated probe workloads
    * never recompute the assignment AND never shuffle the corpus again
    * (the bucketed layout IS the hash distribution the probe join needs;
    * see [[probeIvfIndex]] and the IvfIndexSpec plan proof). */
  def buildIvfIndex(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      tableName: String,
      path: String,
      nBuckets: Int = 8,
      kmeansIters: Int = 0): Unit = {
    val n = emb.select(col(idCol), col(vecCol), norm2(col(vecCol)).as("__n2"))
    val cent = centroidsOf(emb, idCol, vecCol, nCells, kmeansIters)
    // the codebook is part of the index: persist it next to the postings
    // so probes reconstruct the IDENTICAL assignment geometry (with
    // kmeansIters = 0 it degenerates to the lowest-id vectors, which
    // probeIvfIndex can also recover from the index itself)
    cent.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("path", s"${path}_centroids")
      .saveAsTable(s"${tableName}_centroids")
    val cellCos = cosineFromNorms(dotD(col(vecCol), col("__cv")), col("__n2"), col("__cn2"))
    n.join(broadcast(cent))
      .select(col(idCol), col(vecCol), col("__n2"), col("__cid"), cellCos.as("__ccos"))
      .groupBy(col(idCol))
      .agg(
        max_by(col("__cid"), struct(col("__ccos"), -col("__cid"))).as("__cell"),
        first(col(vecCol)).as(vecCol), first(col("__n2")).as("__n2"))
      .write
      .bucketBy(nBuckets, "__cell").sortBy("__cell")
      .option("path", path)
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(tableName)
    recordIndexBase(emb.sparkSession, tableName, path)
  }

  /** Probe a materialized IVF index: identical semantics (and bit-identical
    * output) to [[ivfTopK]] steps 3–4, but the corpus side comes from the
    * bucketed table — distribution from the layout, zero corpus shuffle,
    * zero assignment recompute. Centroids come from the persisted codebook
    * (`<tableName>_centroids`, written by every [[buildIvfIndex]]) when
    * that table exists — AUTO-DETECTED, so a trained index can never be
    * probed with the wrong (untrained) geometry; only for a legacy index
    * without a codebook table are they recovered from the index itself
    * (the nCells lowest-id vectors — the `kmeansIters = 0` seed set). */
  def probeIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int,
      nProbes: Int): DataFrame = {
    val assigned = spark.table(tableName)
    val cent =
      if (spark.catalog.tableExists(s"${tableName}_centroids"))
        spark.table(s"${tableName}_centroids")
      else assigned.orderBy(col(idCol)).limit(nCells)
        .select(col(idCol).as("__cid"), col(vecCol).as("__cv"), col("__n2").as("__cn2"))
    val cellCos = cosineFromNorms(dotD(col(vecCol), col("__cv")), col("__n2"), col("__cn2"))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("__ccos").desc, col("__cell"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol), norm2(col(vecCol)).as("__n2"))
      .join(broadcast(cent))
      .select(col("query_id"), col(vecCol).as("__qv"), col("__n2").as("__qn2"),
        col("__cid").as("__cell"), cellCos.as("__ccos"))
      .withColumn("__pr", row_number().over(pw))
      .filter(col("__pr") <= nProbes)
      .select(col("query_id"), col("__qv"), col("__qn2"), col("__cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    probes.join(assigned.withColumnRenamed(idCol, "neighbor_id"), Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFromNorms(dotD(col("__qv"), col(vecCol)), col("__qn2"), col("__n2")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** s1: brute-force cosine top-k neighbors for each query vector.
    * `queries` is expected to be small — Catalyst broadcasts it, the
    * corpus side never shuffles; ranking is one window over query_id. */
  def knnBruteForce(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm2(col(vecCol)).as("__qn2"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      norm2(col(vecCol)).as("__cn2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    // broadcast the QUERY side explicitly: statistics would otherwise pick
    // the corpus (estimated from the unfiltered file) as build side, which
    // cannot broadcast at corpus scale
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFromNorms(dotD(col("__qv"), col("__cv")), col("__qn2"), col("__cn2")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** s2: multi-table, multi-probe random-hyperplane LSH ANN. Each of
    * `nTables` tables hashes every vector to a bucket = sign-bit pattern
    * over `nPlanes` hyperplanes. A query probes its own bucket PLUS every
    * bucket at Hamming distance 1 (multi-probe: the query side is small,
    * so extra probes are nearly free while recall rises steeply);
    * candidates are the deduplicated union over tables and probes,
    * reranked by exact cosine.
    *
    * Recall dial: P(candidate) per table = P(Hamming(sig_q, sig_c) ≤ 1)
    * = p^n + n·p^(n-1)(1-p) with p = 1-θ/π; across tables
    * 1-(1-per_table)^nTables.
    *
    * Scale: the only shuffle keys on (table, bucket); corpus rows fan out
    * nTables-fold (queries (nPlanes+1)·nTables-fold — fine, the query set
    * is small); rerank is per-bucket local. Bucket skew (dense regions) is
    * handled by AQE skew-join at cluster scale. */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nPlanes: Int = 8,
      nTables: Int = 6): DataFrame = {
    // one native expression per table (graft.plans.LshSignature) — the
    // composed nPlanes × dims literal-dot form generated thousands of
    // codegen nodes whose compilation dominated wall time
    def sig(vec: org.apache.spark.sql.Column, t: Int) =
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.plans.LshSignature(
          org.apache.spark.sql.graft.ColumnBridge.expression(vec), nPlanes, t))
    // corpus: one (table, bucket) entry per table
    def buckets(vec: org.apache.spark.sql.Column) = array((0 until nTables).map { t =>
      struct(lit(t).as("t"), sig(vec, t).as("b"))
    }: _*)
    // query: own bucket + every 1-bit-flip bucket per table
    def probes(vec: org.apache.spark.sql.Column) = array((0 until nTables).flatMap { t =>
      val s = sig(vec, t)
      struct(lit(t).as("t"), s.as("b")) +:
        (0 until nPlanes).map(p => struct(lit(t).as("t"), s.bitwiseXOR(lit(1L << p)).as("b")))
    }: _*)

    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm2(col(vecCol)).as("__qn2"), explode(probes(col(vecCol))).as("__tb"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      norm2(col(vecCol)).as("__cn2"), explode(buckets(col(vecCol))).as("__tb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    q.join(c, Seq("__tb"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // a pair found in several tables is still ONE candidate
      .select(col("query_id"), col("neighbor_id"),
        cosineFromNorms(dotD(col("__qv"), col("__cv")), col("__qn2"), col("__cn2")).as("cos"))
      .distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** s3: IVF (inverted-file) ANN, the coarse-quantization scale path
    * (the structure of FAISS's IndexIVFFlat, re-expressed relationally):
    *
    *  1. coarse centroids — `nCells` deterministic corpus vectors (the
    *     lowest ids; with a trained k-means codebook the flow is identical,
    *     only the centroid table changes);
    *  2. assignment — every corpus vector joins the broadcast centroid
    *     table and keeps its argmax-cosine cell via `max_by` over a
    *     totally-ordered (cos, -cid) struct: map-side partial aggregation,
    *     so the one shuffle carries ONE row per vector, not nCells;
    *  3. probing — each query ranks the same broadcast centroids and
    *     probes its `nProbes` nearest cells;
    *  4. rerank — probes equi-join assignments on the cell id (the only
    *     data-sized shuffle, keyed by cell), exact cosine, windowed top-k.
    *
    * Scale: the corpus never joins itself — candidate count is
    * |corpus|·nProbes/nCells per query in expectation. Cell skew (dense
    * regions) is AQE skew-join territory. Recall is deterministic given
    * the centroids (tunable via nProbes/nCells), which is why — unlike the
    * randomized s2 — this variant is exactly reproducible in the SQL
    * oracle. */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int,
      nProbes: Int,
      kmeansIters: Int = 0): DataFrame = {
    val n = corpus.select(col(idCol), col(vecCol), norm2(col(vecCol)).as("__n2"))
    val cent = centroidsOf(corpus, idCol, vecCol, nCells, kmeansIters)
    val cellCos = cosineFromNorms(dotD(col(vecCol), col("__cv")), col("__n2"), col("__cn2"))

    // (2) one row per vector after map-side partial agg; ties impossible
    // because the struct embeds the unique centroid id
    val assigned = n.join(broadcast(cent))
      .select(col(idCol), col(vecCol), col("__n2"), col("__cid"), cellCos.as("__ccos"))
      .groupBy(col(idCol))
      .agg(
        max_by(col("__cid"), struct(col("__ccos"), -col("__cid"))).as("__cell"),
        first(col(vecCol)).as(vecCol), first(col("__n2")).as("__n2"))

    // (3) query-side probes: small side, broadcast again
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("__ccos").desc, col("__cell"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol), norm2(col(vecCol)).as("__n2"))
      .join(broadcast(cent))
      .select(col("query_id"), col(vecCol).as("__qv"), col("__n2").as("__qn2"),
        col("__cid").as("__cell"), cellCos.as("__ccos"))
      .withColumn("__pr", row_number().over(pw))
      .filter(col("__pr") <= nProbes)
      .select(col("query_id"), col("__qv"), col("__qn2"), col("__cell"))

    // (4) exact rerank within probed cells
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    probes.join(assigned.withColumnRenamed(idCol, "neighbor_id"), Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFromNorms(dotD(col("__qv"), col(vecCol)), col("__qn2"), col("__n2")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  // ---- Product quantization (s4) -------------------------------------------

  /** Guard: PQ subspace slicing would silently produce short/empty
    * subvectors when the vector length doesn't match `nSub·subDim` —
    * returning plausible-looking but WRONG neighbors instead of an error
    * (e.g. the SQL surface's fixed 4×16 config applied to non-64-dim
    * vectors). Fail fast per row instead; checked once per vector, before
    * the subspace explode. */
  private def requireDim(
      vec: org.apache.spark.sql.Column, nSub: Int, subDim: Int): org.apache.spark.sql.Column =
    when(size(vec) === lit(nSub * subDim), vec).otherwise(raise_error(concat(
      lit(s"graft PQ: expected vector dim ${nSub * subDim} (nSub=$nSub x subDim=$subDim), got "),
      size(vec).cast("string"))))

  /** Train per-subspace PQ codebooks (Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the vector
    * splits into `nSub` disjoint `subDim`-wide subvectors, each subspace
    * gets its own `k`-centroid codebook via the same deterministic
    * fixed-iteration Lloyd's scheme as [[trainCentroids]] — but under the
    * paper's metric (L2 on the subvector), argmin with ties to the LOWEST
    * centroid id, [[KmeansQuant]] fixed-point mean updates, empty cells
    * keeping their previous centroid. Seeds are the `k` lowest-id corpus
    * vectors' subvectors (one shared seed id set across subspaces).
    *
    * Returns (__m, __cid, __cv array<double>, __cn2). All `nSub`
    * subspaces train in the SAME jobs — the subspace id is just another
    * key column, so the iteration cost is one broadcast join + two
    * keyed aggregations regardless of nSub. */
  def trainPqCodebooks(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nSub: Int,
      subDim: Int,
      k: Int,
      iters: Int): DataFrame = {
    val embChecked =
      emb.select(col(idCol), requireDim(col(vecCol), nSub, subDim).as(vecCol))
    // one consumer PER ITERATION (each round's assignment re-executes
    // this lineage through the lazy-checkpoint chain): materialize the
    // subvector explode once — `iters` corpus scans become one. At
    // 100 TB the same move is training over a materialized sample.
    val subs = embChecked
      .select(col(idCol), explode(sequence(lit(0), lit(nSub - 1))).as("__m"),
        col(vecCol))
      .select(col(idCol), col("__m"),
        slice(col(vecCol), col("__m") * subDim + 1, lit(subDim)).as("__sv"))
      .withColumn("__sn2", norm2(col("__sv")))
      .transform(graft.functions.Pin.lazily)
    var cent = embChecked.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("__cid"),
        explode(sequence(lit(0), lit(nSub - 1))).as("__m"), col(vecCol))
      .select(col("__m"), col("__cid"),
        transform(slice(col(vecCol), col("__m") * subDim + 1, lit(subDim)),
          x => x.cast("double")).as("__cv"))
      .transform(graft.functions.Pin.lazily)
    for (_ <- 0 until iters) {
      val cn = cent.withColumn("__cn2", norm2(col("__cv")))
      // argmin L2 = max_by of (−dist², −cid): lowest distance, lowest id
      val d2 = col("__sn2") + col("__cn2") - lit(2.0) * dotD(col("__sv"), col("__cv"))
      val assigned = subs.join(broadcast(cn), Seq("__m"))
        .select(col(idCol), col("__m"), col("__sv"), col("__cid"), d2.as("__d2"))
        .groupBy(col(idCol), col("__m"))
        .agg(
          max_by(col("__cid"), struct(-col("__d2"), -col("__cid"))).as("__cell"),
          first(col("__sv")).as("__sv"))
      val cnt = assigned.groupBy(col("__m"), col("__cell")).agg(count(lit(1)).as("__cnt"))
      val sums = assigned
        .select(col("__m"), col("__cell"), posexplode(col("__sv")).as(Seq("__pos", "__x")))
        .select(col("__m"), col("__cell"), col("__pos"),
          floor(col("__x").cast("double") * lit(KmeansQuant)).as("__q"))
        .groupBy(col("__m"), col("__cell"), col("__pos"))
        .agg(sum(col("__q")).as("__s"))
      val means = sums.join(cnt, Seq("__m", "__cell"))
        .select(col("__m"), col("__cell"), col("__pos"),
          (col("__s").cast("double") / (lit(KmeansQuant) * col("__cnt").cast("double")))
            .as("__mn"))
        .groupBy(col("__m"), col("__cell"))
        .agg(transform(array_sort(collect_list(struct(col("__pos"), col("__mn")))),
          x => x.getField("__mn")).as("__mv"))
      cent = cent.join(means,
          cent("__m") === means("__m") && cent("__cid") === means("__cell"), "left")
        .select(cent("__m"), col("__cid"), coalesce(col("__mv"), col("__cv")).as("__cv"))
        .transform(graft.functions.Pin.lazily)
    }
    cent.withColumn("__cn2", norm2(col("__cv")))
  }

  /** PQ-encode the corpus against trained codebooks: each vector becomes
    * `nSub` one-byte-class codes (dense 0..k−1, the rank of the winning
    * centroid id) — at 100 TB this is THE point: an `nSub`-byte code per
    * vector instead of `dim` floats (64× smaller for 64-dim/4-sub), so
    * the scan side of ANN scoring is code lookups over a table that fits
    * where the raw vectors never could. Returns one row per vector:
    * (id, __codes array in subspace order, __rn2 = Σ_m |c_{m,code}|² —
    * the reconstruction's squared norm, exact because subspaces are
    * disjoint coordinates; summed in ascending-m fold order so any
    * engine reproduces it bit-for-bit). */
  def pqEncode(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame,
      nSub: Int,
      subDim: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cmap = codebooks.withColumn("__code",
      (row_number().over(Window.partitionBy(col("__m")).orderBy(col("__cid"))) - 1)
        .cast("int"))
    val subs = emb
      .select(col(idCol), requireDim(col(vecCol), nSub, subDim).as(vecCol))
      .select(col(idCol), explode(sequence(lit(0), lit(nSub - 1))).as("__m"),
        col(vecCol))
      .select(col(idCol), col("__m"),
        slice(col(vecCol), col("__m") * subDim + 1, lit(subDim)).as("__sv"))
      .withColumn("__sn2", norm2(col("__sv")))
    val d2 = col("__sn2") + col("__cn2") - lit(2.0) * dotD(col("__sv"), col("__cv"))
    subs.join(broadcast(cmap), Seq("__m"))
      .select(col(idCol), col("__m"), col("__code"), col("__cn2"), d2.as("__d2"))
      .groupBy(col(idCol), col("__m"))
      .agg(
        max_by(struct(col("__code"), col("__cn2")), struct(-col("__d2"), -col("__code")))
          .as("__win"))
      .groupBy(col(idCol))
      .agg(
        transform(array_sort(collect_list(struct(col("__m"), col("__win.__code").as("__c")))),
          x => x.getField("__c")).as("__codes"),
        aggregate(
          transform(array_sort(collect_list(struct(col("__m"), col("__win.__cn2").as("__n")))),
            x => x.getField("__n")),
          lit(0.0), (acc, x) => acc + x).as("__rn2"))
  }

  /** s4: PQ asymmetric-distance top-k (faiss `IndexPQ` shape): queries
    * keep full precision, the corpus is scanned as PQ codes — per query
    * the `nSub·k` partial dot products against every codebook centroid
    * are precomputed ONCE (the ADC lookup table), each candidate scores
    * as `nSub` table lookups instead of a `dim`-mult dot, and the ADC
    * shortlist (`shortlist` per query) is reranked by exact cosine over
    * the raw vectors of the shortlist only.
    *
    * Determinism/oracle: codebook training, codes, the lookup tables and
    * the ascending-m ADC fold are all integer/fixed-order arithmetic —
    * the DuckDB oracle re-derives the ENTIRE pipeline (unrolled
    * per-subspace k-means included), so approximation error never means
    * unverifiability. Recall vs the exact baseline is additionally
    * floor-asserted in the spec.
    *
    * Scale: the ADC scan is query-broadcast × codes map-side (the same
    * intentionally-linear shape as s1's baseline BUT over nSub-byte codes
    * — memory traffic drops ~dim·4/nSub-fold, the usual PQ win); the
    * shortlist is a per-query WindowGroupLimit partial top-k; the rerank
    * touches only shortlist×1 raw vectors via an equi-join on the
    * neighbor id. When even full code scans are too wide, [[ivfPqTopK]]
    * cuts the scan to probed IVF cells (faiss IndexIVFPQ); for repeated
    * query workloads, [[buildPqIndex]]/[[probePqIndex]] amortize training
    * and encoding away entirely. */
  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nSub: Int,
      subDim: Int,
      kPerSub: Int,
      kmeansIters: Int,
      shortlist: Int): DataFrame = {
    val cb = trainPqCodebooks(corpus, idCol, vecCol, nSub, subDim, kPerSub, kmeansIters)
    val codes = pqEncode(corpus, idCol, vecCol, cb, nSub, subDim)
      .select(col(idCol).as("neighbor_id"), col("__codes"), col("__rn2"))
    val qtab = pqQueryTab(queries, idCol, vecCol, pqCodeMap(cb), nSub, subDim)
    val scored = spreadForScan(codes)
      .join(broadcast(qtab), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("__qv"), col("__qn2"), col("neighbor_id"),
        (adcCol(nSub, kPerSub) / sqrt(col("__qn2") * col("__rn2"))).as("adc_cos"))
    pqShortlistRerank(scored, corpus, idCol, vecCol, k, shortlist)
  }

  /** Fail fast when a probe's (nSub, subDim, kPerSub) disagree with the
    * PERSISTED codebook's geometry — the same silent-corruption class
    * [[requireDim]] guards on the dim axis: a mismatched kPerSub
    * mis-strides the flattened ADC lookup table (`m·kPerSub + code`) and
    * returns plausible-looking but WRONG neighbors. The geometry is
    * DERIVED from the codebook itself (distinct subspaces, rows per
    * subspace, centroid vector width) — one driver-side aggregate over a
    * `nSub·kPerSub`-row table, metadata scale. */
  private def validatePqGeometry(
      codebooks: DataFrame, nSub: Int, subDim: Int, kPerSub: Int): Unit = {
    val r = codebooks.agg(
      countDistinct(col("__m")), count(lit(1)),
      min(size(col("__cv"))), max(size(col("__cv")))).collect()(0)
    val ns = r.getLong(0)
    val n = r.getLong(1)
    require(ns > 0, "graft PQ: persisted codebook table is empty")
    val kps = n / ns
    val dims = (r.getInt(2), r.getInt(3))
    require(ns == nSub && kps == kPerSub && n == ns * kps &&
        dims == ((subDim, subDim)),
      s"graft PQ: probe params (nSub=$nSub, subDim=$subDim, kPerSub=$kPerSub) " +
        s"do not match the persisted codebook (nSub=$ns, subDim=${dims._1}.." +
        s"${dims._2}, kPerSub=$kps) — refusing to mis-stride the ADC table")
  }

  /** Dense-code map of a trained codebook: `__code` = 0-based rank of the
    * centroid id within its subspace (the byte the codes store). */
  private def pqCodeMap(codebooks: DataFrame): DataFrame =
    codebooks.withColumn("__code",
      (row_number().over(Window.partitionBy(col("__m")).orderBy(col("__cid"))) - 1)
        .cast("int"))

  /** Per-query ADC lookup tables — pdot(m, code) flattened in (m, code)
    * order so the code scan does `element_at(ftab, m·k + code + 1)`.
    * Returns (query_id, __qv, __qn2, __ftab). */
  private def pqQueryTab(
      queries: DataFrame, idCol: String, vecCol: String,
      cmap: DataFrame, nSub: Int, subDim: Int): DataFrame = {
    val qsubs = queries
      .select(col(idCol).as("query_id"), requireDim(col(vecCol), nSub, subDim).as("__qv"),
        norm2(col(vecCol)).as("__qn2"))
      .select(col("query_id"), col("__qv"), col("__qn2"),
        explode(sequence(lit(0), lit(nSub - 1))).as("__m"))
      .select(col("query_id"), col("__qv"), col("__qn2"), col("__m"),
        slice(col("__qv"), col("__m") * subDim + 1, lit(subDim)).as("__qsv"))
    qsubs.join(broadcast(cmap), Seq("__m"))
      .select(col("query_id"), col("__qv"), col("__qn2"), col("__m"), col("__code"),
        dotD(col("__qsv"), col("__cv")).as("__pdot"))
      .groupBy(col("query_id"))
      .agg(
        first(col("__qv")).as("__qv"), first(col("__qn2")).as("__qn2"),
        transform(
          array_sort(collect_list(struct(col("__m"), col("__code"), col("__pdot")))),
          x => x.getField("__pdot")).as("__ftab"))
  }

  /** Spread a compute-fanout scan side across the cluster (guide §2:
    * AQE coalesces by BYTES, but cost here is compute): the codes table
    * is bytes-tiny (nSub bytes per vector), so AQE plans its post-shuffle
    * stage at ONE partition — yet each code row fans out |queries|-fold
    * in the ADC scan, so that single task owns the entire scan (measured:
    * s4 at a 10× corpus ran one 16.7 s task, flat from 8 to 32 cores).
    * An explicit user partition count is exempt from AQE coalescing; the
    * extra exchange moves only the code bytes — megabytes. */
  private def spreadForScan(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** The ascending-m ADC fold of one code row against the row's per-query
    * `__ftab`: `nSub` table lookups replace a `dim`-mult dot product. */
  private def adcCol(nSub: Int, kPerSub: Int): org.apache.spark.sql.Column =
    aggregate(sequence(lit(0), lit(nSub - 1)), lit(0.0),
      (acc, m) => acc +
        element_at(col("__ftab"), m * kPerSub + element_at(col("__codes"), m + 1) + 1))

  /** Shared tail of every PQ scan: per-query ADC shortlist, then exact
    * cosine rerank touching only the shortlist's raw vectors (equi-join on
    * the neighbor id against `rerank` — the ONLY place a probe reads raw
    * corpus vectors). `scored` = (query_id, __qv, __qn2, neighbor_id,
    * adc_cos). */
  private def pqShortlistRerank(
      scored: DataFrame, rerank: DataFrame, idCol: String, vecCol: String,
      k: Int, shortlist: Int): DataFrame = {
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_cos").desc, col("neighbor_id"))
    val short = scored
      .withColumn("__sr", row_number().over(ws))
      .filter(col("__sr") <= shortlist)
    val cvec = rerank.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cvv"),
      norm2(col(vecCol)).as("__cn2r"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    short.join(cvec, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("adc_cos"),
        cosineFromNorms(dotD(col("__qv"), col("__cvv")), col("__qn2"), col("__cn2r"))
          .as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"),
        col("adc_cos"))
  }

  /** Persist the PQ index — a `<tableName>_codebooks` table (trained
    * per-subspace centroids) plus the codes table `tableName` (one row per
    * corpus vector: id, `__codes`, `__rn2`) — so the expensive parts of
    * [[pqTopK]] (codebook training AND full-corpus encoding, both
    * O(corpus)) run ONCE and every later query batch pays only the code
    * scan: the [[buildIvfIndex]] amortization applied to PQ (faiss writes
    * `IndexPQ` to disk for exactly this reason). The codes are encoded
    * against the PERSISTED codebook, so the geometry probes load is
    * provably the geometry the codes were written with. */
  def buildPqIndex(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nSub: Int,
      subDim: Int,
      kPerSub: Int,
      kmeansIters: Int,
      tableName: String,
      path: String): Unit = {
    val spark = emb.sparkSession
    trainPqCodebooks(emb, idCol, vecCol, nSub, subDim, kPerSub, kmeansIters)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("path", s"${path}_codebooks")
      .saveAsTable(s"${tableName}_codebooks")
    val cb = spark.table(s"${tableName}_codebooks")
    pqEncode(emb, idCol, vecCol, cb, nSub, subDim)
      .select(col(idCol), col("__codes"), col("__rn2"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("path", path)
      .saveAsTable(tableName)
  }

  /** Probe a materialized PQ index: bit-identical output to [[pqTopK]]
    * with the same parameters, but training and encoding cost ZERO — the
    * ADC scan reads the persisted codes table and the only raw corpus
    * vectors touched are the shortlist rerank's equi-join lookups against
    * `rerank` (normally the corpus table; PqIndexSpec proves the plan
    * shape). `kPerSub` must match the build (it is the ftab stride). */
  def probePqIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      queries: DataFrame,
      rerank: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nSub: Int,
      subDim: Int,
      kPerSub: Int,
      shortlist: Int): DataFrame = {
    val cb = spark.table(s"${tableName}_codebooks")
    validatePqGeometry(cb, nSub, subDim, kPerSub)
    val cmap = pqCodeMap(cb)
    val codes = spark.table(tableName)
      .select(col(idCol).as("neighbor_id"), col("__codes"), col("__rn2"))
    val qtab = pqQueryTab(queries, idCol, vecCol, cmap, nSub, subDim)
    val scored = spreadForScan(codes)
      .join(broadcast(qtab), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("__qv"), col("__qn2"), col("neighbor_id"),
        (adcCol(nSub, kPerSub) / sqrt(col("__qn2") * col("__rn2"))).as("adc_cos"))
    pqShortlistRerank(scored, rerank, idCol, vecCol, k, shortlist)
  }

  /** s5: IVF∘PQ — the production ANN shape (faiss `IndexIVFPQ`, Jégou et
    * al. TPAMI 2011 §V): coarse IVF cells bound WHICH codes are scanned
    * (nProbes/nCells of the corpus per query), PQ codes bound what each
    * scanned candidate COSTS (nSub table lookups over nSub-byte codes).
    * Composition:
    *
    *  1. coarse quantizer — [[centroidsOf]] cells, argmax-cosine
    *     assignment (exactly [[ivfTopK]] steps 1–2);
    *  2. PQ codebooks + codes over the RAW vectors (`by_residual=false`
    *     in faiss terms — residual encoding would tie every code to its
    *     cell's centroid, killing the oracle's independent re-derivation
    *     and the code-table reuse across cell layouts; the raw-vector
    *     form is faiss's own supported variant);
    *  3. query probes its nProbes nearest cells; its ADC lookup tables
    *     are built once per query ([[pqQueryTab]]);
    *  4. the ADC scan is an EQUI-JOIN of codes on the probed cell ids —
    *     per-query cost |corpus|·nProbes/nCells code rows, the only
    *     data-sized shuffle keys on the cell — then the usual shortlist +
    *     exact rerank of shortlist×1 raw vectors.
    *
    * With `nProbes = nCells` every cell is probed and the output is
    * bit-identical to [[pqTopK]] (spec-pinned) — fewer probes trade
    * recall for scan cost, the IVF dial. Deterministic end to end, so the
    * FULL composition (both k-means trainings included) is SQL-re-derived
    * and hash-checked as `s5_knn_ivfpq`. */
  def ivfPqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int,
      nProbes: Int,
      coarseIters: Int,
      nSub: Int,
      subDim: Int,
      kPerSub: Int,
      pqIters: Int,
      shortlist: Int): DataFrame = {
    val n = corpus.select(col(idCol), col(vecCol), norm2(col(vecCol)).as("__n2"))
    val cent = centroidsOf(corpus, idCol, vecCol, nCells, coarseIters)
    val cellCos = cosineFromNorms(dotD(col(vecCol), col("__cv")), col("__n2"), col("__cn2"))
    val assigned = n.join(broadcast(cent))
      .select(col(idCol), col("__cid"), cellCos.as("__ccos"))
      .groupBy(col(idCol))
      .agg(max_by(col("__cid"), struct(col("__ccos"), -col("__cid"))).as("__cell"))
    val cb = trainPqCodebooks(corpus, idCol, vecCol, nSub, subDim, kPerSub, pqIters)
    val codes = pqEncode(corpus, idCol, vecCol, cb, nSub, subDim)
      .join(assigned, Seq(idCol))
      .select(col(idCol).as("neighbor_id"), col("__cell"), col("__codes"), col("__rn2"))
    ivfPqScan(queries, codes, cent, pqCodeMap(cb), corpus, idCol, vecCol,
      k, nProbes, nSub, subDim, kPerSub, shortlist)
  }

  /** Shared probe side of [[ivfPqTopK]] / [[probeIvfPqIndex]]: probe
    * selection, ADC tables, the cell-keyed code scan, shortlist + rerank. */
  private def ivfPqScan(
      queries: DataFrame,
      codes: DataFrame,
      cent: DataFrame,
      cmap: DataFrame,
      rerank: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbes: Int,
      nSub: Int,
      subDim: Int,
      kPerSub: Int,
      shortlist: Int): DataFrame = {
    val cellCos = cosineFromNorms(dotD(col(vecCol), col("__cv")), col("__n2"), col("__cn2"))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("__ccos").desc, col("__cell"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol), norm2(col(vecCol)).as("__n2"))
      .join(broadcast(cent))
      .select(col("query_id"), col("__cid").as("__cell"), cellCos.as("__ccos"))
      .withColumn("__pr", row_number().over(pw))
      .filter(col("__pr") <= nProbes)
      .select(col("query_id"), col("__cell"))
    val qtab = pqQueryTab(queries, idCol, vecCol, cmap, nSub, subDim)
    // (query, probed cell) fan-out carries the ftab — query-side rows are
    // few, so the broadcast stays small; each neighbor lives in exactly
    // one cell, so no candidate dedup is needed
    val qprobes = qtab.join(probes, Seq("query_id"))
    val scored = spreadForScan(codes).join(broadcast(qprobes), Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("__qv"), col("__qn2"), col("neighbor_id"),
        (adcCol(nSub, kPerSub) / sqrt(col("__qn2") * col("__rn2"))).as("adc_cos"))
    pqShortlistRerank(scored, rerank, idCol, vecCol, k, shortlist)
  }

  /** s6: IVF∘PQ with RESIDUAL ENCODING (faiss `IndexIVFPQ` with
    * `by_residual=true` — its production default, Jégou et al. TPAMI
    * 2011 §V-A): vectors are PQ-encoded as `x − c(cell(x))` instead of
    * raw, so the codebooks spend their 2^codebits resolution on the
    * WITHIN-CELL spread (post-IVF residuals are near-zero-mean and much
    * tighter than the raw distribution — materially better
    * reconstruction, hence recall, at the same code size).
    *
    * The usual objection to residual encoding — under L2 every ADC
    * table becomes per-(query, cell) — DISSOLVES entirely under the
    * dot/cosine scoring this engine uses. With x̂ = c + r̂ the dot is
    * linear:
    *
    *   dot(q, x̂)  = dot(q, c) + Σ_m dot(q_m, r̂_m)
    *             = qc(query, cell) + ADC_raw(ftab_q, codes)
    *   ‖x̂‖²      = ‖c‖² + 2·dot(c, r̂) + ‖r̂‖²  (a per-ROW constant,
    *                computed at encode time and stored beside the codes)
    *
    * where `qc` is the query↔centroid dot the probe selection already
    * computes. So the scan keeps the STANDARD per-query ADC table over
    * raw query slices — one scalar add per candidate buys residual
    * quality with zero per-cell table blowup (the dot-metric analogue
    * of faiss's precomputed-terms trick, which under L2 still needs the
    * per-row ‖x̂‖² and dot(c, r̂) terms this encode materializes).
    *
    * Everything stays deterministic fixed-order arithmetic (residual
    * subtraction is elementwise float→double-exact; both trainings are
    * the unrolled Lloyd schemes), so the FULL composition is SQL-
    * re-derived and hash-checked as `s6_knn_ivfpq_residual`. Recall vs
    * the exact baseline is floor-asserted in SimilaritySpec — at the
    * same geometry it must not fall below the raw-encoding variant's
    * pinned floor. */
  def ivfPqResidualTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int,
      nProbes: Int,
      coarseIters: Int,
      nSub: Int,
      subDim: Int,
      kPerSub: Int,
      pqIters: Int,
      shortlist: Int): DataFrame = {
    val cent = centroidsOf(corpus, idCol, vecCol, nCells, coarseIters)
    // two consumers (codebook training and the encode) would each re-run
    // the assignment join + residual subtraction: materialize once
    val res = residualFrame(corpus, idCol, vecCol, cent)
      .transform(graft.functions.Pin.lazily)
    val cb = trainPqCodebooks(res, idCol, "__rv", nSub, subDim, kPerSub, pqIters)
    val codes = pqEncodeResidual(res, idCol, cb, nSub, subDim)
      .select(col(idCol).as("neighbor_id"), col("__cell"), col("__codes"),
        col("__xn2"))
    ivfPqResidualScan(queries, codes, cent, pqCodeMap(cb), corpus, idCol,
      vecCol, k, nProbes, nSub, subDim, kPerSub, shortlist)
  }

  /** Per-row residual prep shared by the s6 train/encode/append paths:
    * slim (id, cell) assignment exactly as s5's, then the centroid
    * vector re-attaches by a BROADCAST join on the cell id — carrying
    * the 64-double centroid through the corpus-sized max_by exchange
    * would multiply its shuffle bytes ~30× for nothing. Returns
    * (id, __cell, __celln2, __ccv, __rv = x − c, element-exact
    * float→double). */
  private def residualFrame(
      emb: DataFrame, idCol: String, vecCol: String,
      cent: DataFrame): DataFrame = {
    val n = emb.select(col(idCol), col(vecCol), norm2(col(vecCol)).as("__n2"))
    val cellCos = cosineFromNorms(dotD(col(vecCol), col("__cv")), col("__n2"), col("__cn2"))
    val assigned = n.join(broadcast(cent))
      .select(col(idCol), col("__cid"), cellCos.as("__ccos"))
      .groupBy(col(idCol))
      .agg(max_by(col("__cid"), struct(col("__ccos"), -col("__cid"))).as("__cell"))
    val cellGeom = cent.select(col("__cid").as("__cell"),
      col("__cv").as("__ccv"), col("__cn2").as("__celln2"))
    n.join(assigned, Seq(idCol))
      .join(broadcast(cellGeom), Seq("__cell"))
      .select(col(idCol), col("__cell"), col("__celln2"), col("__ccv"),
        zip_with(col(vecCol), col("__ccv"),
          (a, b) => a.cast("double") - b).as("__rv"))
  }

  /** Shared probe side of [[ivfPqResidualTopK]] /
    * [[probeIvfPqResidualIndex]] — [[ivfPqScan]] with the residual
    * scoring: probe selection also carries dot(q, c) per probed cell
    * (the qc term; the SAME dot the probe ranking computes), and each
    * candidate scores `(qc + ADC) / √(qn²·xn²)`. */
  private def ivfPqResidualScan(
      queries: DataFrame,
      codes: DataFrame,
      cent: DataFrame,
      cmap: DataFrame,
      rerank: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbes: Int,
      nSub: Int,
      subDim: Int,
      kPerSub: Int,
      shortlist: Int): DataFrame = {
    val qn = queries.select(col(idCol).as("query_id"), col(vecCol),
      norm2(col(vecCol)).as("__n2"))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("__ccos").desc, col("__cell"))
    val probes = qn.join(broadcast(cent))
      .select(col("query_id"), col("__cid").as("__cell"), col("__n2"), col("__cn2"),
        dotD(col(vecCol), col("__cv")).as("__qcdot"))
      .select(col("query_id"), col("__cell"), col("__qcdot"),
        cosineFromNorms(col("__qcdot"), col("__n2"), col("__cn2")).as("__ccos"))
      .withColumn("__pr", row_number().over(pw))
      .filter(col("__pr") <= nProbes)
      .select(col("query_id"), col("__cell"), col("__qcdot"))
    val qtab = pqQueryTab(queries, idCol, vecCol, cmap, nSub, subDim)
    val qprobes = qtab.join(probes, Seq("query_id"))
    val scored = spreadForScan(codes).join(broadcast(qprobes), Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("__qv"), col("__qn2"), col("neighbor_id"),
        ((col("__qcdot") + adcCol(nSub, kPerSub))
          / sqrt(col("__qn2") * col("__xn2"))).as("adc_cos"))
    pqShortlistRerank(scored, rerank, idCol, vecCol, k, shortlist)
  }

  /** Persist the residual IVF∘PQ index — same layout as
    * [[buildIvfPqIndex]] (coarse centroids, codebooks, CELL-BUCKETED
    * codes) with the residual geometry: codebooks trained on
    * `x − c(cell(x))`, codes rows carrying the exact reconstruction
    * norm `__xn2` instead of `__rn2`. The schema difference makes the
    * two kinds mutually unprobeable by construction (a raw probe of a
    * residual table fails on the missing column, never returns wrong
    * neighbors). */
  def buildIvfPqResidualIndex(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      coarseIters: Int,
      nSub: Int,
      subDim: Int,
      kPerSub: Int,
      pqIters: Int,
      tableName: String,
      path: String,
      nBuckets: Int = 8): Unit = {
    val spark = emb.sparkSession
    centroidsOf(emb, idCol, vecCol, nCells, coarseIters)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("path", s"${path}_centroids")
      .saveAsTable(s"${tableName}_centroids")
    // residuals AGAINST THE PERSISTED geometry, then codebooks on them
    val cent = spark.table(s"${tableName}_centroids")
    val res = residualFrame(emb, idCol, vecCol, cent)
      .transform(graft.functions.Pin.eagerly)
    trainPqCodebooks(res, idCol, "__rv", nSub, subDim, kPerSub, pqIters)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("path", s"${path}_codebooks")
      .saveAsTable(s"${tableName}_codebooks")
    val cb = spark.table(s"${tableName}_codebooks")
    val encoded = pqEncodeResidual(res, idCol, cb, nSub, subDim)
      .select(col(idCol), col("__cell"), col("__codes"), col("__xn2"))
      .transform(graft.functions.Pin.eagerly)
    encoded.write
      .bucketBy(nBuckets, "__cell").sortBy("__cell")
      .option("path", path)
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(tableName)
    recordIndexBase(spark, tableName, path)
  }

  /** [[appendToIvfPqIndex]] for the residual kind: assign + residualize
    * + encode a new batch against the FROZEN persisted geometry, insert
    * into the bucketed codes table — O(batch), zero training. Same
    * contracts: ids must be new; rebuild when drift erodes recall. */
  def appendToIvfPqResidualIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      nSub: Int,
      subDim: Int,
      kPerSub: Int): Unit = {
    val cent = spark.table(s"${tableName}_centroids")
    val cb = spark.table(s"${tableName}_codebooks")
    validatePqGeometry(cb, nSub, subDim, kPerSub)
    val res = residualFrame(batch, idCol, vecCol, cent)
    pqEncodeResidual(res, idCol, cb, nSub, subDim)
      .select(col(idCol), col("__cell"), col("__codes"), col("__xn2"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .insertInto(tableName)
  }

  /** Probe a materialized residual IVF∘PQ index: bit-identical to
    * [[ivfPqResidualTopK]] with the same parameters, zero
    * training/assignment/encoding per call. */
  def probeIvfPqResidualIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      queries: DataFrame,
      rerank: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbes: Int,
      nSub: Int,
      subDim: Int,
      kPerSub: Int,
      shortlist: Int): DataFrame = {
    val cent = spark.table(s"${tableName}_centroids")
    val cb = spark.table(s"${tableName}_codebooks")
    validatePqGeometry(cb, nSub, subDim, kPerSub)
    val codes = spark.table(tableName)
      .select(col(idCol).as("neighbor_id"), col("__cell"), col("__codes"),
        col("__xn2"))
    ivfPqResidualScan(queries, codes, cent, pqCodeMap(cb), rerank, idCol,
      vecCol, k, nProbes, nSub, subDim, kPerSub, shortlist)
  }

  /** Residual PQ encode: codes over `__rv` (= x − cell centroid) plus
    * the one per-row constant the cosine ADC algebra needs — `__xn2`,
    * the reconstruction's exact squared norm ‖c‖² + 2·dot(c, r̂) + ‖r̂‖²
    * (the cross term folds the winning codeword's dot with its cell
    * centroid's slice, ascending-m). Input must carry `__rv`, `__ccv`,
    * `__celln2`, `__cell` per row. */
  private def pqEncodeResidual(
      res: DataFrame, idCol: String, codebooks: DataFrame,
      nSub: Int, subDim: Int): DataFrame = {
    val cmap = pqCodeMap(codebooks)
    val subs = res
      .select(col(idCol), col("__cell"), col("__celln2"),
        requireDim(col("__rv"), nSub, subDim).as("__rv"), col("__ccv"))
      .select(col(idCol), col("__cell"), col("__celln2"),
        explode(sequence(lit(0), lit(nSub - 1))).as("__m"),
        col("__rv"), col("__ccv"))
      .select(col(idCol), col("__cell"), col("__celln2"), col("__m"),
        slice(col("__rv"), col("__m") * subDim + 1, lit(subDim)).as("__sv"),
        slice(col("__ccv"), col("__m") * subDim + 1, lit(subDim)).as("__csl"))
      .withColumn("__sn2", norm2(col("__sv")))
    val d2 = col("__sn2") + col("__cn2") - lit(2.0) * dotD(col("__sv"), col("__cv"))
    subs.join(broadcast(cmap), Seq("__m"))
      .select(col(idCol), col("__cell"), col("__celln2"), col("__m"),
        col("__code"), col("__cn2"),
        dotD(col("__csl"), col("__cv")).as("__cd"), d2.as("__d2"))
      .groupBy(col(idCol), col("__m"))
      .agg(first(col("__cell")).as("__cell"),
        first(col("__celln2")).as("__celln2"),
        max_by(struct(col("__code"), col("__cn2"), col("__cd")),
          struct(-col("__d2"), -col("__code"))).as("__win"))
      .groupBy(col(idCol))
      .agg(first(col("__cell")).as("__cell"),
        first(col("__celln2")).as("__celln2"),
        transform(array_sort(collect_list(struct(col("__m"),
          col("__win.__code").as("__c")))), x => x.getField("__c")).as("__codes"),
        aggregate(transform(array_sort(collect_list(struct(col("__m"),
          col("__win.__cn2").as("__n")))), x => x.getField("__n")),
          lit(0.0), (acc, x) => acc + x).as("__rrn2"),
        aggregate(transform(array_sort(collect_list(struct(col("__m"),
          col("__win.__cd").as("__d")))), x => x.getField("__d")),
          lit(0.0), (acc, x) => acc + x).as("__cdot"))
      .select(col(idCol), col("__cell"), col("__codes"),
        (col("__celln2") + lit(2.0) * col("__cdot") + col("__rrn2")).as("__xn2"))
  }

  /** Persist the IVF∘PQ index: coarse centroids (`<t>_centroids`), PQ
    * codebooks (`<t>_codebooks`), and the codes table `tableName` — one
    * row per vector (id, `__cell`, `__codes`, `__rn2`), CELL-BUCKETED so
    * probe scans read only probed buckets and the cell equi-join needs no
    * exchange on the code side (the [[buildIvfIndex]] layout argument,
    * applied to codes). */
  def buildIvfPqIndex(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      coarseIters: Int,
      nSub: Int,
      subDim: Int,
      kPerSub: Int,
      pqIters: Int,
      tableName: String,
      path: String,
      nBuckets: Int = 8): Unit = {
    val spark = emb.sparkSession
    centroidsOf(emb, idCol, vecCol, nCells, coarseIters)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("path", s"${path}_centroids")
      .saveAsTable(s"${tableName}_centroids")
    trainPqCodebooks(emb, idCol, vecCol, nSub, subDim, kPerSub, pqIters)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("path", s"${path}_codebooks")
      .saveAsTable(s"${tableName}_codebooks")
    // assignment + encoding against the PERSISTED geometry
    val cent = spark.table(s"${tableName}_centroids")
    val cb = spark.table(s"${tableName}_codebooks")
    val n = emb.select(col(idCol), col(vecCol), norm2(col(vecCol)).as("__n2"))
    val cellCos = cosineFromNorms(dotD(col(vecCol), col("__cv")), col("__n2"), col("__cn2"))
    val assigned = n.join(broadcast(cent))
      .select(col(idCol), col("__cid"), cellCos.as("__ccos"))
      .groupBy(col(idCol))
      .agg(max_by(col("__cid"), struct(col("__ccos"), -col("__cid"))).as("__cell"))
    // materialize encode+assignment ONCE before the bucketed write: the
    // saveAsTable's bucket-sort exchange otherwise re-evaluates the whole
    // two-aggregation encode lineage on its shuffle-retry paths, and the
    // snapshot frees the k-means localCheckpoint blocks held by the
    // training lineage as soon as the build returns
    val encoded = pqEncode(emb, idCol, vecCol, cb, nSub, subDim)
      .join(assigned, Seq(idCol))
      .select(col(idCol), col("__cell"), col("__codes"), col("__rn2"))
      .transform(graft.functions.Pin.eagerly)
    encoded.write
      .bucketBy(nBuckets, "__cell").sortBy("__cell")
      .option("path", path)
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(tableName)
    recordIndexBase(spark, tableName, path)
  }

  /** APPEND a batch of new vectors to a persisted IVF index without
    * touching its geometry (faiss `index.add()` — the growing-corpus
    * path: re-running [[buildIvfIndex]] per batch is O(corpus), this is
    * O(batch)): the batch is assigned against the PERSISTED centroids and
    * inserted into the bucketed postings table, so probes see the union
    * immediately and the plan keeps its zero-exchange bucketed scan.
    * Cells drift from the training distribution as the corpus grows —
    * the faiss operating rule applies: retrain/rebuild when recall decays,
    * append between rebuilds. Caller contract: batch ids must be new
    * (append never dedups — pair with [[buildDedupIndex]]-style probes
    * upstream when in doubt). */
  def appendToIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String): Unit = {
    val cent = spark.table(s"${tableName}_centroids")
    val n = batch.select(col(idCol), col(vecCol), norm2(col(vecCol)).as("__n2"))
    val cellCos = cosineFromNorms(dotD(col(vecCol), col("__cv")), col("__n2"), col("__cn2"))
    n.join(broadcast(cent))
      .select(col(idCol), col(vecCol), col("__n2"), col("__cid"), cellCos.as("__ccos"))
      .groupBy(col(idCol))
      .agg(
        max_by(col("__cid"), struct(col("__ccos"), -col("__cid"))).as("__cell"),
        first(col(vecCol)).as(vecCol), first(col("__n2")).as("__n2"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .insertInto(tableName)
  }

  /** [[appendToIvfIndex]] for the IVF∘PQ index: the batch is coarse-
    * assigned against the persisted centroids AND PQ-encoded against the
    * persisted codebooks — zero training, O(batch) work, the codes land
    * in the bucketed codes table probes already scan. Same contracts:
    * ids must be new; rebuild when distribution drift erodes recall. */
  def appendToIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      nSub: Int,
      subDim: Int,
      kPerSub: Int): Unit = {
    val cent = spark.table(s"${tableName}_centroids")
    val cb = spark.table(s"${tableName}_codebooks")
    validatePqGeometry(cb, nSub, subDim, kPerSub)
    val n = batch.select(col(idCol), col(vecCol), norm2(col(vecCol)).as("__n2"))
    val cellCos = cosineFromNorms(dotD(col(vecCol), col("__cv")), col("__n2"), col("__cn2"))
    val assigned = n.join(broadcast(cent))
      .select(col(idCol), col("__cid"), cellCos.as("__ccos"))
      .groupBy(col(idCol))
      .agg(max_by(col("__cid"), struct(col("__ccos"), -col("__cid"))).as("__cell"))
    pqEncode(batch, idCol, vecCol, cb, nSub, subDim)
      .join(assigned, Seq(idCol))
      .select(col(idCol), col("__cell"), col("__codes"), col("__rn2"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .insertInto(tableName)
  }

  /** Probe a materialized IVF∘PQ index: bit-identical to [[ivfPqTopK]]
    * with the same parameters, zero training/assignment/encoding per call
    * — the repeated-query production path. Raw vectors are touched only
    * by the shortlist rerank against `rerank`. */
  def probeIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      queries: DataFrame,
      rerank: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbes: Int,
      nSub: Int,
      subDim: Int,
      kPerSub: Int,
      shortlist: Int): DataFrame = {
    val cent = spark.table(s"${tableName}_centroids")
    val cb = spark.table(s"${tableName}_codebooks")
    validatePqGeometry(cb, nSub, subDim, kPerSub)
    val cmap = pqCodeMap(cb)
    val codes = spark.table(tableName)
      .select(col(idCol).as("neighbor_id"), col("__cell"), col("__codes"), col("__rn2"))
    ivfPqScan(queries, codes, cent, cmap, rerank, idCol, vecCol,
      k, nProbes, nSub, subDim, kPerSub, shortlist)
  }

  // ---- rebuild policy (the faiss operating rule, measured) ----------------

  /** What [[driftReport]] returns: a MEASURED recall@k of the persisted
    * index against brute-force ground truth on a deterministic query
    * sample, the fraction of the index appended since its geometry was
    * trained, and the rebuild recommendation the two imply. */
  final case class DriftReport(
      recallAtK: Double,
      k: Int,
      sampledQueries: Long,
      indexRows: Long,
      appendedFraction: Double,
      recallFloor: Double,
      rebuildRecommended: Boolean)

  /** Record the trained-geometry row count beside an index — the
    * denominator of [[driftReport]]'s appended-fraction. Called by every
    * build; pre-upgrade indexes simply report fraction -1 (unknown). */
  private def recordIndexBase(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String, path: String): Unit = {
    import spark.implicits._
    Seq(spark.table(tableName).count()).toDF("base_rows")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("path", s"${path}_meta")
      .saveAsTable(s"${tableName}_meta")
  }

  /** The REBUILD-POLICY hook closing the append contract's loop
    * ([[appendToIvfIndex]]/[[appendToIvfPqIndex]] say "rebuild when
    * drift erodes recall" — this is what measures the erosion and says
    * so): samples `1/sampleEvery` of the current corpus as queries
    * (deterministic hash sample), computes exact brute-force top-k as
    * ground truth, probes the PERSISTED index (IVF, or IVF∘PQ when `pq`
    * geometry is given), and recommends a rebuild when measured recall@k
    * falls below `recallFloor`. Appended-fraction since the last build
    * rides along (current rows vs the `<table>_meta` base recorded at
    * build) as the cheap leading indicator to alarm on between full
    * probes.
    *
    * COST, stated plainly: ground truth is O(sample × corpus) — that is
    * the price of a measured recall rather than a guessed one; size
    * `sampleEvery` so the brute-force slice fits the maintenance window
    * (at 1/1000 sampling a 10⁹-row corpus pays a 10⁶×10⁹ partial
    * product, the same shape [[knnBruteForce]] already bounds per
    * partition). Run it per ingest epoch, not per query (SCALING.md §
    * "Round 9: ANN rebuild policy"). */
  def driftReport(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int,
      nProbes: Int,
      recallFloor: Double = 0.9,
      sampleEvery: Int = 100,
      pq: Option[(Int, Int, Int, Int)] = None): DriftReport =
    measureDrift(spark, tableName, corpus, idCol, vecCol, k,
      recallFloor, sampleEvery) { queries =>
      pq match {
        case Some((nSub, subDim, kPerSub, shortlist)) =>
          probeIvfPqIndex(spark, tableName, queries, corpus, idCol, vecCol,
            k, nProbes, nSub, subDim, kPerSub, shortlist)
        case None =>
          probeIvfIndex(spark, tableName, queries, idCol, vecCol, k, nCells, nProbes)
      }
    }

  /** The probe-agnostic core of [[driftReport]] — deterministic query
    * sample, brute-force ground truth, recall against whatever `probe`
    * returns, appended-fraction from the `<table>_meta` base. Shared by
    * the PQ-only kind ([[graft.operators.AnnIndexes.drift]]) so the
    * sampling rule and fraction semantics cannot diverge per kind. */
  private[operators] def measureDrift(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      recallFloor: Double,
      sampleEvery: Int)(
      probe: DataFrame => DataFrame): DriftReport = {
    val queries = corpus
      .filter(pmod(hash(col(idCol)), lit(sampleEvery)) === 0)
      .transform(graft.functions.Pin.eagerly)
    val truth = knnBruteForce(queries, corpus, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
      .transform(graft.functions.Pin.eagerly)
    val approx = probe(queries).select(col("query_id"), col("neighbor_id"))
    val tot = truth.count()
    val hits = truth.join(approx, Seq("query_id", "neighbor_id")).count()
    val recall = if (tot == 0L) 1.0 else hits.toDouble / tot
    val indexRows = spark.table(tableName).count()
    val appendedFraction =
      if (!spark.catalog.tableExists(s"${tableName}_meta")) -1.0
      else {
        val base = spark.table(s"${tableName}_meta").head().getAs[Long]("base_rows")
        math.max(0.0, (indexRows - base).toDouble / math.max(indexRows, 1L))
      }
    DriftReport(recall, k, queries.count(), indexRows, appendedFraction,
      recallFloor, rebuildRecommended = recall < recallFloor)
  }
}
