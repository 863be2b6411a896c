package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers, mirroring how a 100 TB pipeline would run them:
  *  - [[bruteForceTopK]] — exact top-k: the small query set is
  *    BROADCAST against the big corpus, so the corpus is scanned once,
  *    partition-parallel, with no shuffle of the corpus itself; per-query
  *    top-k is a windowed rank over (query, score).
  *  - [[lshTopK]] — the scale path: random-hyperplane (sign) LSH using
  *    data-derived anchor vectors; corpus and queries are bucketed by a
  *    bit signature and only same-bucket pairs are scored (equi-join
  *    shuffle on the bucket key instead of a cross product).
  *
  * All arithmetic is double-precision sequential folds (see
  * [[graft.functions.VectorFunctions]]) for oracle bit-parity.
  */
object Similarity {

  /** Exact cosine top-k: `queries` (small) broadcast-crossed with
    * `corpus`, ranked per query by (cosine desc, vec_id). Norms are
    * precomputed per vector (one pass) so each pair costs ONE dot
    * product, not three — at N corpus x Q queries that's 3x fewer
    * array folds in the hot loop; the arithmetic stays bit-identical
    * (same sqrt-of-sequential-sum values, same division).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"),
                           asDouble(col("embedding")).as("q_vec"))
      .withColumn("q_nrm", norm(col("q_vec")))
    val c = corpus.select(col("vec_id"),
                          asDouble(col("embedding")).as("c_vec"))
      .withColumn("c_nrm", norm(col("c_vec")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
              (dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")))
                .as("cos_sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("cos_sim"), col("rn"))
  }

  /** All-pairs near-duplicate detection by cosine ≥ `minCos` over a
    * sampled corpus (the exact reference for LSH-based near-dup).
    *
    * TEST-TIER: the self-join is O(n²); this is the correctness oracle
    * for [[lshTopK]]-style bucketed near-dup and REFUSES corpora above
    * `maxInputRows` so it cannot be lifted into a 100 TB job unchanged
    * — pass a larger bound explicitly to override.
    */
  def nearDupPairs(corpus: DataFrame, minCos: Double,
                   maxInputRows: Long = 100000L): DataFrame = {
    // guard scan stops at the threshold (limit pushes down), so the
    // check costs O(maxInputRows), not a full corpus count
    require(corpus.limit((maxInputRows + 1).toInt).count() <= maxInputRows,
      s"nearDupPairs is the all-pairs CORRECTNESS reference, not the scale " +
        s"path (input exceeds $maxInputRows rows): bucket with " +
        s"signBuckets/nearDupLsh, or raise maxInputRows explicitly")
    val a = corpus.select(col("vec_id").as("id_a"),
                          asDouble(col("embedding")).as("va"))
      .withColumn("na", norm(col("va")))
    val b = corpus.select(col("vec_id").as("id_b"),
                          asDouble(col("embedding")).as("vb"))
      .withColumn("nb", norm(col("vb")))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Symmetric int8 quantization — the memory-scale path for ANN: a
    * 64-dim float vector becomes 64 bytes + one scale, a 4-8x shrink
    * that lets an executor hold proportionally more of the corpus per
    * probe. Per vector: scale = max|x|/127, q_i = floor(x_i/scale +
    * 0.5) (explicit floor-of-shifted rounding so every engine agrees
    * on halfway cases); an all-zero vector quantizes to zeros.
    * Pure per-row projection, no shuffle.
    */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val v = asDouble(col("embedding"))
    val ma = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    val q = when(ma === 0d, transform(v, _ => lit(0L)))
      .otherwise(transform(v, x => floor(x / (ma / lit(127)) + lit(0.5))))
    emb.select(col("vec_id"), (ma / lit(127)).as("scale"), q.as("qvec"))
  }

  /** Exact top-k over the QUANTIZED vectors: same plan as
    * [[bruteForceTopK]] (query side broadcast, corpus scanned once),
    * but every pair costs an int8 dot product. The scales cancel out
    * of the cosine, so the score is pure integer dot products (exact
    * in doubles — order-independent) over their root-self-dots; ranks
    * approximate the float cosine ranks to quantization error.
    */
  def int8TopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    def quantized(df: DataFrame) =
      quantizeInt8(df).select(col("vec_id"), col("qvec").as("embedding"))
    bruteForceTopK(quantized(corpus), quantized(queries), k)
  }

  /** Two-stage retrieval — the production ANN serving pattern: an
    * int8-quantized COARSE pass over the whole corpus proposes
    * `coarseK` candidates per query (4-8× less memory traffic, the
    * [[quantizeInt8]] rationale), then ONLY those candidates are
    * re-scored in full double precision and re-ranked to the final
    * `k`. Recall loss is confined to candidates the quantizer ranked
    * below `coarseK` — the knob every vector store exposes.
    *
    * Scale shape: stage 1 is [[int8TopK]]'s broadcast-cross scan
    * (corpus never shuffles); stage 2 touches |queries|·coarseK rows —
    * candidate-sized, not corpus-sized — re-fetching full-precision
    * vectors by an equi-join on vec_id and windowing per query over
    * ≤ coarseK rows.
    */
  def rerankTopK(corpus: DataFrame, queries: DataFrame,
                 coarseK: Int, k: Int): DataFrame = {
    val coarse = int8TopK(corpus, queries, coarseK)
      .select(col("q_id"), col("vec_id"))
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val q = queries.select(col("vec_id").as("q_id"),
        asDouble(col("embedding")).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val rescored = coarse
      .join(c, "vec_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("vec_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos_sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    rescored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("cos_sim"), col("rn"))
  }

  /** Triplet mining for contrastive-embedding training: for each
    * anchor, the `kPos` nearest corpus vectors become positives and
    * `kNeg` DETERMINISTIC hash-sampled vectors OUTSIDE the positive
    * set become negatives — the (anchor, positive, negative) triples a
    * contrastive loss consumes, reproducible across runs/engines
    * because negative choice depends only on (anchor, candidate) ids.
    *
    * Output: (q_id, vec_id, role ∈ {pos, neg}, rn) — rn ranks
    * positives by similarity, negatives by their hash draw.
    *
    * Scale shape: positives ride [[bruteForceTopK]]'s broadcast plan
    * (swap in [[lshTopK]]/[[ivfTopK]] for the approximate tier);
    * negatives rank a pure hash projection per (anchor, candidate)
    * pair — same broadcast cross join, no second corpus shuffle — and
    * the anti-join against the positive set is broadcast-sized
    * (|anchors| × kPos rows).
    */
  def tripletMining(corpus: DataFrame, anchors: DataFrame,
                    kPos: Int, kNeg: Int): DataFrame = {
    val pos = bruteForceTopK(corpus, anchors, kPos)
    val q = anchors.select(col("vec_id").as("q_id"))
    val negRank = Window.partitionBy(col("q_id")).orderBy(
      graft.functions.TextFunctions.hash60(
        concat_ws(":", col("q_id"), col("vec_id"))), col("vec_id"))
    val neg = corpus.select(col("vec_id")).crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(pos.select(col("q_id"), col("vec_id"))),
        Seq("q_id", "vec_id"), "left_anti")
      .withColumn("rn", row_number().over(negRank))
      .filter(col("rn") <= kNeg)
    pos.select(col("q_id"), col("vec_id"), lit("pos").as("role"), col("rn"))
      .unionByName(neg.select(col("q_id"), col("vec_id"),
        lit("neg").as("role"), col("rn")))
  }

  /** Collect a small anchor/centroid table to driver literals.
    * These sets are tiny BY CONSTRUCTION (k ≤ a few hundred even at
    * 100 TB), so inlining them turns per-vector bucketing into a pure
    * projection — the corpus is never shuffled just to be labeled.
    */
  private def collectVectors(df: DataFrame): Seq[(Int, Array[Double])] = {
    val rows = df.select(col("vec_id").cast("int"),
        asDouble(col("embedding"))).collect()
    require(rows.length <= 4096, s"anchor set too large: ${rows.length}")
    rows.map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toSeq
      .sortBy(_._1)
  }

  /** Per-subspace PQ codebooks: entry j is the codebook for subspace
    * j, a list of (code id, sub-vector) sorted by code id.
    */
  type Books = Seq[Seq[(Int, Array[Double])]]

  /** The (−dot, c_id) struct array every IVF-family operator sorts to
    * assign a vector column `v` to its cell — ONE builder (used by
    * balance/at-rest/top-k/near-dup/semdedup/silhouette/k-means
    * alike) so the argmax rule and its smallest-id tie-break cannot
    * drift between paths whose correctness claims are mutual
    * bit-equality.
    */
  /** Entry-budget rule for the IVF/graph index family: cell count
    * scaled to the corpus, ⌈√n⌉ clamped to [8, 1024]. A FIXED cell
    * count starves index seeding and query entry as the corpus grows —
    * the per-cell stored-head budget is constant, so entry coverage
    * shrinks ∝ 1/n (measured: serving recall@10 fell 0.81 → 0.23-0.27
    * across one synthetic decade under 8 fixed cells, and recovered to
    * 0.80+ under this rule). √n keeps per-cell occupancy ≈ √n and the
    * centroid set driver-collectable (cap 1024 ≪ the 4096 anchor rule,
    * and centroid scoring stays one literal-vector projection).
    * Beyond n ≈ 10⁶ the cap binds; production would refine entry with
    * Lloyd rounds ([[kmeansIter]]) or a hierarchical entry tier — the
    * rule here fixes the BUDGET, which is what decayed.
    */
  def autoCells(corpus: DataFrame): Int = autoCellsOf(corpus.count())

  /** [[autoCells]] from an already-known corpus size — callers that
    * have counted once (a declared query building several tiers, the
    * streaming drift monitor's running total) reuse the count instead
    * of re-scanning the corpus per call.
    */
  def autoCellsOf(n: Long): Int =
    math.min(1024L, math.max(8L,
      math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  private def cellScores(cent: Seq[(Int, Array[Double])]): Column =
    array(cent.map { case (id, cv) =>
      struct((-dot(col("v"), lit(cv))).as("negcd"), lit(id).as("c_id"))
    }: _*)

  /** The top-2 cell ids of vector column `v` against literal
    * centroids by the SAME (dot DESC, c_id ASC) rule as
    * [[cellScores]] + array_sort — but as one fold over the dotted
    * cells with a 4-field accumulator instead of materializing and
    * SORTING a |cells|-struct array per row. At [[autoCells]]-scale
    * cell counts (hundreds, vs the fixed 8 where the sort was free)
    * the per-row sort dominated the dot products; the fold does the
    * identical dot work once per cell (dots pre-computed by a
    * `transform` so the when-chain never re-evaluates them) with
    * O(1) state. Strict `>` keeps the first-seen (smallest c_id) on
    * ties — exactly the sort's (negcd, c_id) order. Returns struct
    * (b1d, b1i, b2d, b2i); b2i = -1 when |cells| = 1.
    */
  private def top2Cells(cent: Seq[(Int, Array[Double])]): Column = {
    // fused native kernel (r18): the r17 fold below still ran as a
    // CodegenFallback `aggregate` HOF — one |cells|-struct array plus
    // one accumulator row allocated per fold step per corpus row at
    // all nine cell-assignment sites. Same dots, same strict-> NaN-safe
    // rule, bit-identical (Top2CellsSpec pins it against the fold).
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.Top2CellsExpr(
      ColumnBridge.expression(col("v")),
      cent.map(_._1), cent.flatMap(_._2.toSeq)))
  }

  /** The declarative fold [[top2Cells]] fuses — kept as the reference
    * semantics the codegen expression must match bit for bit
    * (Top2CellsSpec), never called from a query path.
    */
  private[graft] def top2CellsDeclarative(
      cent: Seq[(Int, Array[Double])]): Column = {
    val dotted = array(cent.map { case (id, cv) =>
      struct(dot(col("v"), lit(cv)).as("d"), lit(id).as("c_id"))
    }: _*)
    val init = struct(
      lit(Double.NegativeInfinity).as("b1d"), lit(-1).as("b1i"),
      lit(Double.NegativeInfinity).as("b2d"), lit(-1).as("b2i"))
    aggregate(dotted, init, (acc, x) => {
      val d = x.getField("d"); val id = x.getField("c_id")
      when(d > acc.getField("b1d"), struct(
          d.as("b1d"), id.as("b1i"),
          acc.getField("b1d").as("b2d"), acc.getField("b1i").as("b2i")))
        .when(d > acc.getField("b2d"), struct(
          acc.getField("b1d").as("b1d"), acc.getField("b1i").as("b1i"),
          d.as("b2d"), id.as("b2i")))
        .otherwise(acc)
    })
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein,
    * SIGIR 1998) — the diversity-aware retrieval finisher: greedily
    * pick m results that balance relevance to the query against
    * redundancy with what is already picked,
    * `argmax λ·cos(q,x) − (1−λ)·max_{s∈S} cos(x,s)`. The k-center
    * dual with a relevance term: where [[kcenterSelect]] spreads over
    * the corpus, MMR spreads over the query's neighborhood.
    *
    * Determinism & parity: λ-weighted score recomputed per round
    * against the literal picked set (`greatest` = the oracle's
    * incremental `greatest(prev, cos)` chain — max is associative and
    * both engines compute the same a·x − b·y doubles), ties to the
    * smallest vec_id.
    *
    * Scale shape: identical to [[kcenterSelect]] — m driver rounds of
    * one corpus scan against ≤ m+1 literal vectors, single-row max
    * aggregate, nothing corpus-sized collected. In production the
    * corpus side would be the top-N candidates of a first-stage
    * retriever; the operator is agnostic.
    */
  def mmrSelect(corpus: DataFrame, query: DataFrame, m: Int,
                lambda: Double): DataFrame = {
    require(m >= 1 && m <= 64, "m is a driver-round count")
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // Fail loud on the query contract (the pageRankWeighted seeds
    // discipline): MMR is defined against ONE query vector — silently
    // taking the smallest-id row of a multi-row input would answer a
    // different question, and an empty input has no answer at all.
    // limit(2) bounds the check at two rows regardless of caller size.
    val qRows = query
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .limit(2).collect()
    require(qRows.length == 1,
      s"mmrSelect expects exactly one query row, got " +
        (if (qRows.isEmpty) "an empty query DataFrame" else "more than one"))
    val qv = qRows.head.getSeq[Double](1).toArray
    var picked = List.empty[(Long, Array[Double], Double)]
    while (picked.length < m) {
      val score = mmrScoreCol(qv, picked.map(_._2), lambda)
      val base =
        if (picked.isEmpty) c
        else c.filter(!col("vec_id").isin(picked.map(_._1): _*))
      val best = base
        .select(max(struct(score.as("s"), (-col("vec_id")).as("nid"),
          col("v").as("v"))).as("b"))
        .head().getStruct(0)
      picked = picked :+ ((-best.getLong(1),
        best.getSeq[Double](2).toArray, best.getDouble(0)))
    }
    picked.zipWithIndex.map { case ((id, _, s), i) =>
      ((i + 1).toLong, id, s)
    }.toDF("sel_round", "vec_id", "mmr_score")
  }

  /** NN-Descent k-NN graph construction (Dong, Charikar & Li,
    * "Efficient k-nearest neighbor graph construction for generic
    * similarity measures", WWW 2011) — the batch ancestor of every
    * graph-based ANN index (HNSW's layer-0 shape). Start from a cheap
    * capped per-IVF-cell seeding, then improve every node's list
    * simultaneously with the paper's local-join rule: a node's new
    * candidates are its neighbors' neighbors under the SYMMETRIC
    * closure of the current graph; keep-best top-k after each round.
    *
    * Determinism & parity: every stage is rank-gated by
    * (cos desc, id) or plain id order and every cosine is the same
    * double fold on both engines, so a fixed `rounds` unroll is
    * bit-reproducible (the rel_pagerank treatment — the oracle unrolls
    * the identical rounds).
    *
    * Scale shape: no stage is quadratic in the corpus. Seeding joins
    * each node against ≤ cap per-cell heads (cellsize·cap rows, the
    * hot-bucket truncation idiom); each round's symmetric closure is
    * ≤ 2nk edges, every middle node's incident list is rank-capped at
    * cap = 2k before the wedge self-join, so candidates are ≤ 4nk²
    * per round — linear in n — and the re-score joins vectors back by
    * id (no vector ever rides a wedge row). Driver holds only the
    * literal centroids.
    */
  def knnGraph(corpus: DataFrame, centroids: DataFrame, k: Int,
               rounds: Int, centralSeeds: Boolean = false): DataFrame = {
    require(k >= 1 && rounds >= 0, "top-k size and a fixed round count")
    val cent = collectVectors(centroids)
    val cap = 2 * k
    // the STANDING vector relation every id-keyed join in the build
    // reads: hashed by vec_id ONCE behind a lazy checkpoint (r18, the
    // duplicateClusters treatment — guide §2.4/§3.3 "bucketed" reuse).
    // Without it, every NN-Descent round's two re-score joins and the
    // seeding's two t2rel joins re-shuffled (and re-projected, and
    // re-normed) the corpus from scratch — 2·rounds + 2 corpus-sized
    // exchanges per build where one suffices; the checkpoint is what
    // carries the partitioning across the per-round lineage cuts. The
    // materialized relation is (id, v, nrm) — the same corpus-sized
    // cache an NND build holds anyway; MEMORY_AND_DISK spills.
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
      .repartition(col("vec_id"))
      .localCheckpoint(eager = false)
    // score every vector against the centroids ONCE, into a
    // 4-scalar-per-row relation pinned with a lazy checkpoint (the
    // small-relation discipline — at autoCells-scale cell counts the
    // per-row scoring is the dominant seeding cost, and the naive
    // two-subtree shape re-ran it for the assignment AND the head
    // sides); each consumer joins the vectors back by id, the same
    // id-keyed re-score idiom as the wedge rounds below
    val t2rel = c
      .select(col("vec_id"), top2Cells(cent).as("t2"))
      .select(col("vec_id"), col("t2.b1i").as("c1"), col("t2.b2i").as("c2"),
        col("t2.b1d").as("d1"))
      .localCheckpoint(eager = false)
    // soft assignment: each node seeds from its top-2 cells (the IVF
    // probe rule on the corpus side — same trick as sim_neardup_cells);
    // the cell >= 0 filter drops the c2 sentinel of a 1-cell codebook
    val assigned = c.join(t2rel, "vec_id")
      .select(col("vec_id"), col("v"), col("nrm"),
        explode(array(col("c1"), col("c2"))).as("cell"))
      .filter(col("cell") >= 0)
    // seed-head rank mirrors the at-rest entry-head rule: central
    // seeds join every cellmate to the cell's most CENTRAL members
    // (dot to centroid desc), first-by-id keeps arbitrary members
    val seedWin = Window.partitionBy(col("cell")).orderBy(
      (if (centralSeeds) Seq(col("d1").desc, col("vec_id"))
       else Seq(col("vec_id"))): _*)
    val heads = c.join(t2rel, "vec_id")
      .select(col("vec_id"), col("v"), col("nrm"), col("c1").as("cell"),
        col("d1"))
      .withColumn("hr", row_number().over(seedWin))
      .filter(col("hr") <= cap)
      .select(col("cell"), col("vec_id").as("dst"),
        col("v").as("dv"), col("nrm").as("dn"))
    val wSrc = Window.partitionBy(col("src"))
      .orderBy(col("cos_sim").desc, col("dst"))
    def topk(df: DataFrame): DataFrame = df
      .withColumn("rn", row_number().over(wSrc))
      .filter(col("rn") <= k)
    val edges0 = topk(
      assigned.join(heads, Seq("cell"))
        .filter(col("vec_id") =!= col("dst"))
        .select(col("vec_id").as("src"), col("dst"),
          (dot(col("v"), col("dv")) / (col("nrm") * col("dn")))
            .as("cos_sim"))
        // one exchange: hash by src, dedup inherits (keys ⊇ src),
        // the src-keyed rank window inherits too (guide §2.4)
        .repartition(col("src"))
        .dropDuplicates(Seq("src", "dst", "cos_sim")))
      .select(col("src"), col("dst"), col("cos_sim"))
    nndRounds(c, edges0, k, rounds)
  }

  /** The NN-Descent refinement loop factored from [[knnGraph]] so the
    * warm-start path ([[knnGraphWarm]]) can enter it with a DIFFERENT
    * seed edge set: per round the symmetric closure, cap-2k incident
    * lists, middle-node wedge join, fresh cosine, keep-best top-k.
    * `c` is the (vec_id, v, nrm) vector relation; `edges0` the seed
    * (src, dst, cos_sim) edges.
    */
  private def nndRounds(c: DataFrame, edges0: DataFrame, k: Int,
                        rounds: Int): DataFrame = {
    val cap = 2 * k
    val wSrc = Window.partitionBy(col("src"))
      .orderBy(col("cos_sim").desc, col("dst"))
    def topk(df: DataFrame): DataFrame = df
      .withColumn("rn", row_number().over(wSrc))
      .filter(col("rn") <= k)
    var edges = edges0
    for (_ <- 1 to rounds) {
      // ONE exchange for dedup + incident-cap (guide §2.4): hash by
      // src first — the dedup keys contain src, so dropDuplicates
      // inherits the partitioning, and the incident-rank window is
      // src-keyed too. The previous distinct() + window shape paid a
      // (src,dst,cos) shuffle AND a src shuffle per round.
      val sym = edges
        .union(edges.select(col("dst").as("src"), col("src").as("dst"),
          col("cos_sim")))
        .repartition(col("src"))
        .dropDuplicates(Seq("src", "dst", "cos_sim"))
      // cap every incident list at the 2k CLOSEST neighbors (cos desc)
      // — the best bridges carry the local join, per NN-Descent
      val wMid = Window.partitionBy(col("src"))
        .orderBy(col("cos_sim").desc, col("dst"))
      val capped = sym
        .withColumn("cr", row_number().over(wMid))
        .filter(col("cr") <= cap)
        .select(col("src").as("mid"), col("dst"))
      // (r17 note: generating each unordered wedge pair once and
      // mirroring after scoring was tried and REVERTED — without a
      // shuffle boundary at the join, the union's two branches
      // re-execute the whole scoring subtree, doubling the work the
      // halving saved; measured 7.3 s → 14 s on the 3-round build)
      // candidate dedup shares its exchange with the first re-score
      // join (r18, guide §2.4): hash by dst — dropDuplicates' keys
      // contain it, and the dst-keyed vector join inherits it. The
      // old distinct() paid a (src,dst) exchange NEITHER downstream
      // join could reuse, so the wedge-sized relation shuffled twice.
      val cand = capped.as("e1")
        .join(capped.as("e2"), col("e1.mid") === col("e2.mid") &&
          col("e1.dst") =!= col("e2.dst"))
        .select(col("e1.dst").as("src"), col("e2.dst").as("dst"))
        .repartition(col("dst"))
        .dropDuplicates(Seq("src", "dst"))
      val scored = cand
        .join(c.select(col("vec_id").as("dst"),
          col("v").as("dv"), col("nrm").as("dn")), "dst")
        .join(c.select(col("vec_id").as("src"),
          col("v").as("sv"), col("nrm").as("sn")), "src")
        .select(col("src"), col("dst"),
          (dot(col("sv"), col("dv")) / (col("sn") * col("dn")))
            .as("cos_sim"))
      // lineage truncation per round: the edge relation is nk rows of
      // three scalars (never the corpus vectors), the SMALL-relation
      // case where per-round checkpointing is the right discipline —
      // without it the unrolled plan grows exponentially in rounds.
      // keep-best union: same one-exchange dedup+rank discipline as
      // the symmetric closure above
      edges = topk(scored.union(edges)
          .repartition(col("src"))
          .dropDuplicates(Seq("src", "dst", "cos_sim")))
        .select(col("src"), col("dst"), col("cos_sim"))
        .localCheckpoint(eager = false)
    }
    topk(edges).select(col("src").as("vec_id"), col("dst").as("nb_id"),
      col("cos_sim"), col("rn"))
  }

  /** Warm-start NN-Descent (the published incremental-NND recipe): a
    * drift-triggered REBUILD seeds from the previous version's
    * neighbor lists instead of from scratch — old nodes keep their
    * lists (re-scored against the current vectors in one linear
    * id-keyed join; the at-rest adj carries no scores), new nodes
    * seed from their Lloyd cell's capped heads exactly like a cold
    * build — and converges in 1–2 rounds instead of 3 because the
    * prior lists are already near-correct for the unchanged mass.
    * Edges into nodes that LEFT the corpus drop at the re-score join
    * (inner on both endpoints), so deletions are handled by the same
    * mechanism.
    *
    * NOT oracle-gated: the warm graph is a different (equally valid)
    * approximate index than the cold build — its gate is the recall
    * floor (≥0.9 avg / ≥0.7 min recall@10, the declared graph serving
    * bar; the warm-rebuild sweep at sf0.1 measured 1 warm round at
    * 0.92/0.70 for 0.46× the cold build's wall, COVERAGE.md "Warm-start
    * graph rebuilds") plus the serve-twin spec; the WALK over any
    * published layout stays deterministic and spec-pinned.
    *
    * `prevAdj` = the prior layout's `adj` relation (src, dst);
    * `prevNodes` = its `nodes` (vec_id) — both straight reads of a
    * [[graphWriteAtRest]] layout.
    */
  def knnGraphWarm(corpus: DataFrame, centroids: DataFrame, k: Int,
                   rounds: Int, prevNodes: DataFrame,
                   prevAdj: DataFrame): DataFrame = {
    require(k >= 1 && rounds >= 0, "top-k size and a fixed round count")
    val cent = collectVectors(centroids)
    val cap = 2 * k
    // same standing vec_id-hashed vector relation as [[knnGraph]]
    // (r18): the carried re-score, the seeding joins, and every wedge
    // round reuse one corpus exchange
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
      .repartition(col("vec_id"))
      .localCheckpoint(eager = false)
    // prior lists re-scored against CURRENT vectors: one id-keyed
    // join pass over nk edge rows; endpoints that left the corpus
    // drop here (inner join)
    val carried = prevAdj.select(col("src"), col("dst"))
      .join(c.select(col("vec_id").as("src"),
        col("v").as("sv"), col("nrm").as("sn")), "src")
      .join(c.select(col("vec_id").as("dst"),
        col("v").as("dv"), col("nrm").as("dn")), "dst")
      .select(col("src"), col("dst"),
        (dot(col("sv"), col("dv")) / (col("sn") * col("dn")))
          .as("cos_sim"))
    // NEW nodes (not in the previous version) get the cold build's
    // soft top-2-cell seeding against the full corpus's heads — the
    // wedge rounds then bridge them into the carried neighborhoods
    val newIds = c.select(col("vec_id"))
      .join(prevNodes.select(col("vec_id")), Seq("vec_id"), "left_anti")
    val t2rel = c
      .select(col("vec_id"), top2Cells(cent).as("t2"))
      .select(col("vec_id"), col("t2.b1i").as("c1"), col("t2.b2i").as("c2"),
        col("t2.b1d").as("d1"))
      .localCheckpoint(eager = false)
    val assignedNew = c.join(newIds, Seq("vec_id"), "left_semi")
      .join(t2rel, "vec_id")
      .select(col("vec_id"), col("v"), col("nrm"),
        explode(array(col("c1"), col("c2"))).as("cell"))
      .filter(col("cell") >= 0)
    val seedWin = Window.partitionBy(col("cell")).orderBy(col("vec_id"))
    val heads = c.join(t2rel, "vec_id")
      .select(col("vec_id"), col("v"), col("nrm"), col("c1").as("cell"))
      .withColumn("hr", row_number().over(seedWin))
      .filter(col("hr") <= cap)
      .select(col("cell"), col("vec_id").as("dst"),
        col("v").as("dv"), col("nrm").as("dn"))
    val newSeeds = assignedNew.join(heads, Seq("cell"))
      .filter(col("vec_id") =!= col("dst"))
      .select(col("vec_id").as("src"), col("dst"),
        (dot(col("v"), col("dv")) / (col("nrm") * col("dn")))
          .as("cos_sim"))
      .distinct()
    val wSrc = Window.partitionBy(col("src"))
      .orderBy(col("cos_sim").desc, col("dst"))
    val edges0 = carried.unionByName(newSeeds)
      .withColumn("rn", row_number().over(wSrc))
      .filter(col("rn") <= k)
      .select(col("src"), col("dst"), col("cos_sim"))
    nndRounds(c, edges0, k, rounds)
  }

  /** Materialize the [[knnGraph]] index AT REST — the serving layout
    * of a graph-based vector store (HNSW layer 0 in its batch
    * adaptation): three parquet relations under `path`:
    *  - `adj`  — the k-NN edges (src, dst), partitioned by
    *    `bucket = pmod(src, buckets)` so a search round's neighbor
    *    expansion prunes to its frontier's buckets at the FILE level;
    *  - `nodes` — (vec_id, embedding), partitioned by
    *    `pmod(vec_id, buckets)` — the one place vectors live; a
    *    search scores candidates by pruned point-ish lookups here and
    *    NEVER scans the corpus relation;
    *  - `heads` — the per-IVF-cell entry points (cell, vec_id, hr),
    *    the same capped head rule [[knnGraph]] seeds from — a query
    *    enters the graph at its nearest cell's first `hr` nodes.
    *
    * Modulo (not range) bucketing on purpose: ids are assigned
    * arbitrarily, pmod spreads them uniformly, and a search round's
    * frontier is a SET of ids (no range locality to exploit), so
    * uniform buckets minimize the worst-case files-per-probe.
    */
  /** Remove `$path/cent` — the completeness marker every at-rest
    * index writes LAST — before a (re)build touches any other subdir.
    * Writers overwrite subdirs in order ending with cent; without
    * this, a rebuild that crashes after the new meta lands but before
    * cent is overwritten leaves OLD cent + NEW meta, which
    * [[indexFresh]] would read as a complete, fingerprint-matching
    * layout and serve as fresh. Deleting the marker first makes every
    * partial rebuild read as incomplete until the final write.
    */
  private def invalidateMarker(corpus: DataFrame, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/cent")
    val fs = p.getFileSystem(
      corpus.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** Bucket count of a graph layout, derived from the corpus size —
    * guide §2.5/§6: partitioning must scale with the input, not sit at
    * a constant tuned for one scale (the old fixed 64 made sf0.1
    * layout writes cost MORE than the NN-Descent build they persist —
    * PhaseProbe r17 — and left 5 GB nodes buckets at 10⁹ rows).
    *
    * BYTE-targeted since r18 (r17 verdict: the row-count rule's doc
    * didn't match its math, and its "~75 MB at 10⁹ nodes" claim held
    * only at the testdata's dim 64 — at dim 768 the same rule yielded
    * ~1.5 GB nodes buckets): buckets = ceil(n·dim·8 B / 512 MB),
    * clamped to [8, 4096] — mid-range of the guide §6 "output files
    * 128 MB–1 GB" guidance. Modeled: n 10⁶ / dim 768 → 12 buckets
    * (~490 MB); n 10⁹ / dim 64 → 1000 buckets (~512 MB); n 10⁹ /
    * dim 768 the 4096-dir cap binds (~1.5 GB/bucket — the cap bounds
    * directory-listing and per-probe file counts, and a deployment
    * that prefers smaller files raises `SPARK_GRAFT_GRAPH_BUCKETS`).
    * The floor keeps file-level pruning meaningful at test scale.
    * Serving always takes the count from the layout's meta, so the
    * rule can evolve without invalidating standing layouts.
    */
  def graphBucketsFor(n: Long, dim: Int): Int = {
    val env = sys.env.get("SPARK_GRAFT_GRAPH_BUCKETS").map { s =>
      val v = scala.util.Try(s.toInt).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_GRAPH_BUCKETS must be a positive int, got '$s'"))
      require(v > 0,
        s"SPARK_GRAFT_GRAPH_BUCKETS must be a positive int, got '$s'")
      v
    }
    env.getOrElse {
      val bytes = n * dim.toLong * 8L
      val target = 512L * 1024 * 1024
      math.max(8L, math.min(4096L, (bytes + target - 1) / target)).toInt
    }
  }

  def graphWriteAtRest(corpus: DataFrame, centroids: DataFrame, k: Int,
                       rounds: Int, path: String,
                       buckets: Int = -1,
                       centralHeads: Boolean = false): Unit =
    writeGraphLayout(corpus, centroids,
      knnGraph(corpus, centroids, k, rounds), k, path, buckets,
      centralHeads)

  /** The layout write of [[graphWriteAtRest]] with the edge relation
    * supplied by the caller, so cold ([[knnGraph]]) and warm-start
    * ([[knnGraphWarm]]) builds share one on-disk format byte for
    * byte — serving cannot tell how the graph was built, which is the
    * warm path's whole correctness story (the walk is deterministic
    * over whatever layout is published).
    */
  private def writeGraphLayout(corpus: DataFrame, centroids: DataFrame,
                               edges: DataFrame, k: Int, path: String,
                               buckets0: Int,
                               centralHeads: Boolean): Unit = {
    invalidateMarker(corpus, path)
    val cent = collectVectors(centroids)
    val cap = 2 * k
    // one corpus pass for every meta statistic (count, window
    // signature, growth frontier) — previously three separate scans —
    // run FIRST so the bucket count can derive from the corpus size
    val (builtN, sig, maxId) = fingerprintStats(corpus)
    val buckets = if (buckets0 > 0) buckets0
      else graphBucketsFor(builtN, cent.headOption.map(_._2.length).getOrElse(64))
    // epoch 0 = the build; [[graphAppendDelta]] stamps 1, 2, … on the
    // inserted nodes and their forward/reverse edges, so a walk pinned
    // to an epoch sees exactly the graph that existed when it resolved
    // the index (the [[ivfWriteAtRest]] convention).
    // Both row relations repartition BY THE PARTITION COLUMN before
    // the partitioned write (guide §6, small files): without it every
    // upstream task writes its own fragment into every bucket
    // directory (up to tasks×buckets files); with it each bucket is
    // one file whose size the bucket rule already bounds.
    edges
      .select(col("vec_id").as("src"), col("nb_id").as("dst"))
      .withColumn("bucket",
        pmod(col("src"), lit(buckets.toLong)).cast("int"))
      .withColumn("epoch", lit(0L))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/adj")
    corpus.select(col("vec_id"), col("embedding"))
      .withColumn("bucket",
        pmod(col("vec_id"), lit(buckets.toLong)).cast("int"))
      .withColumn("epoch", lit(0L))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/nodes")
    // entry-head rank within each cell: `centralHeads` ranks by dot
    // to the cell centroid (desc, ties to the smallest id) so a
    // query's entry points are the cell's most CENTRAL members — the
    // first-by-id rule keeps arbitrary members as entries, which is
    // the entry-quality loss the r14 sweep measured
    val headWin = Window.partitionBy(col("cell")).orderBy(
      (if (centralHeads) Seq(col("cd").desc, col("vec_id"))
       else Seq(col("vec_id"))): _*)
    corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("t2", top2Cells(cent))
      .select(col("vec_id"), col("t2.b1i").as("cell"),
        col("t2.b1d").as("cd"))
      .withColumn("hr", row_number().over(headWin))
      .filter(col("hr") <= cap)
      .select(col("cell"), col("vec_id"), col("hr"))
      // ≤ cells·cap rows (≤ 1024·2k by the autoCells bound) — one file
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/heads")
    // layout metadata: the stored per-cell head cap (2·build-k) and
    // bucket count, so SERVING validates against what was written —
    // not against its own serve-time parameters (a serve k > build k
    // must not admit beams above the stored heads). `built_n` and
    // `cells` record the corpus size and entry-cell count the layout
    // was built at — the reference point the streaming drift monitor
    // ([[graft.streaming.IvfStream.rebuildSignal]]) compares live
    // growth against.
    import corpus.sparkSession.implicits._
    Seq((k, cap, buckets, builtN, cent.length, centralHeads, sig, 0L,
        maxId))
      .toDF("build_k", "head_cap", "buckets", "built_n", "cells",
        "central_heads", "sig", "epoch", "max_vec_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    // the entry centroids themselves (≤1024 rows by the autoCells
    // cap): a layout must be servable with the EXACT cell set its
    // heads were assigned under — readers that resolve an index by
    // path/version take centroids from here, so a rebuild is free to
    // change its cell count without coordinating with servers
    cent.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/cent")
  }

  /** Parametric OPQ rotation (Ge et al. CVPR 2013 §4, the
    * eigenvalue-allocation solution): an ORTHOGONAL rotation applied
    * before PQ so the m subspaces carry balanced variance — the
    * published recall lever for exactly the case the r15 residual
    * sweep hit (a coarse quantizer that explains little variance, so
    * residual encoding can't help; rotation rebalances what the code
    * budget sees instead). Orthogonality is the whole trick: (Rq)·(Rx)
    * = q·x, so cell assignment, brute-force truth, and every dot-based
    * score are EXACTLY preserved — only the PQ sub-vector decomposition
    * changes.
    *
    * Recipe: the d×d Gramian Σxxᵀ in one distributed pass
    * (RowMatrix.computeGramianMatrix), a local 64×64 symmetric
    * eigendecomposition (breeze, on Spark's own classpath), then the
    * greedy eigenvalue allocation — largest remaining eigenvalue joins
    * the subspace with the smallest log-variance product — and R's
    * rows are the eigenvectors in allocation order. One corpus scan,
    * one driver-local O(d³) solve.
    *
    * Returns the d rotation rows. Sweep-tier, declared by no query:
    * the r16 PQ sweep measured recall@10 0.41–0.45 against raw
    * 0.46–0.53 at equal budget and rejected it (COVERAGE.md, "OPQ
    * rotation"). The Gramian's float sum is
    * partitioning-order-dependent, so the rotation is run-deterministic
    * only — adoption into an
    * oracle-gated query would need the exact-decimal gram pass.
    */
  def opqParametricRotation(corpus: DataFrame, m: Int): Seq[Array[Double]] = {
    import org.apache.spark.mllib.linalg.{Vectors => MlVectors}
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val rows = corpus.select(asDouble(col("embedding")).as("v"))
      .rdd.map(r => MlVectors.dense(r.getSeq[Double](0).toArray))
    val gram = new RowMatrix(rows).computeGramianMatrix()
    val d = gram.numCols
    require(d % m == 0, s"dim $d must split into $m subspaces")
    val sub = d / m
    val bg = breeze.linalg.DenseMatrix.tabulate(d, d)((i, j) => gram(i, j))
    val es = breeze.linalg.eigSym(bg)
    // eigenvalues ascending from breeze; walk them descending and give
    // each to the least-loaded (log-product) unfilled subspace
    val order = (0 until d).sortBy(i => -es.eigenvalues(i))
    val loads = Array.fill(m)(0.0)
    val fill = Array.fill(m)(0)
    val slots = Array.fill(d)(0)
    for (i <- order) {
      val j = (0 until m).filter(fill(_) < sub)
        .minBy(j => (loads(j), j))
      loads(j) += math.log(math.max(es.eigenvalues(i), 1e-300))
      slots(j * sub + fill(j)) = i
      fill(j) += 1
    }
    (0 until d).map { r =>
      val ev = slots(r)
      Array.tabulate(d)(c => es.eigenvectors(c, ev))
    }
  }

  /** Apply a [[opqParametricRotation]] (or any literal row matrix) to
    * the embedding column: one codegen-pure projection of d literal
    * dots per row — the [[cellScores]] cost class, never a shuffle.
    */
  def rotated(corpus: DataFrame, rows: Seq[Array[Double]]): DataFrame =
    corpus.select(col("vec_id"),
      array(rows.map(r => dot(asDouble(col("embedding")), lit(r))): _*)
        .as("embedding"))

  /** Rows probed by [[corpusFingerprint]]'s content signature. */
  private[graft] val FingerprintSample = 4096L

  /** (row count, corpus content signature) stamped into every at-rest
    * index's meta so serving can detect a corpus regenerated under the
    * same name/row-count and rebuild instead of silently probing stale
    * cells. Priced for the SERVE path, which must stay
    * corpus-independent (the flat-curve claim): the count is a
    * zero-column scan (parquet answers it from footer statistics), and
    * the signature — BIT_XOR of xxhash64(vec_id, embedding), XOR for
    * partition-order independence — reads only the fixed
    * vec_id < [[FingerprintSample]] probe window (a pushed-down
    * predicate; row-group stats skip the rest), so the freshness check
    * costs O(sample), not O(corpus). A regeneration that changes
    * content only OUTSIDE the probe window escapes the signature and
    * is caught by the row count or, structurally, by the versioned
    * publish + drift-monitor path a standing deployment uses.
    * Engine-private (never oracle-compared), so Spark's xxhash64 is
    * fine here.
    */
  private[graft] def corpusFingerprint(corpus: DataFrame): (Long, Long) =
    // deliberately NOT [[fingerprintStats]] (r18, closing the r17
    // ADVICE medium): the fused writer pass keeps the probe-window
    // predicate inside a CASE in the aggregate, so the whole embedding
    // column is scanned — fine for writers (they scan the corpus
    // anyway), wrong for the flat-curve serve path this feeds via
    // [[indexFresh]]. The two jobs here stay O(sample): the count is a
    // zero-column footer-stat scan, the signature a row-group-pruned
    // window read with the predicate pushed down.
    (corpus.count(), windowSig(corpus))

  /** (row count, window signature, max vec_id) in ONE aggregate pass —
    * the three meta statistics every index writer stamps used to cost
    * three separate scans of the corpus (count, windowSig, maxVecId);
    * guide §1.2/§2.4: one pass computes all three. The signature
    * expression is bit-identical to [[windowSig]]'s filter+BIT_XOR
    * (aggregates skip the NULLs the `when` emits outside the probe
    * window), so stamped fingerprints stay comparable across writer
    * versions. WRITER-ONLY: the CASE keeps the window predicate inside
    * the aggregate (no pushdown — the full embedding column is read),
    * which is free for writers that scan the corpus anyway; the serve
    * path's freshness probe uses [[corpusFingerprint]]'s pushed-down
    * O(sample) shape instead.
    */
  private[graft] def fingerprintStats(
      rows: DataFrame): (Long, Long, Long) = {
    val r = rows.agg(
      count(lit(1)).as("n"),
      coalesce(expr(
        s"bit_xor(CASE WHEN vec_id < ${FingerprintSample}L " +
          "THEN xxhash64(vec_id, embedding) END)"), lit(0L)).as("sig"),
      coalesce(max(col("vec_id")), lit(-1L)).as("mx")).head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The content-signature half of [[corpusFingerprint]]: BIT_XOR of
    * xxhash64(vec_id, embedding) over the fixed probe window. XOR
    * makes the signature INCREMENTALLY maintainable — the grown
    * corpus's signature is exactly oldSig ^ windowSig(delta), which is
    * how [[ivfAppendDelta]] keeps the stamped fingerprint equal to
    * what [[corpusFingerprint]] would compute over base ∪ delta
    * without ever scanning the base again.
    */
  private def windowSig(rows: DataFrame): Long =
    rows.filter(col("vec_id") < FingerprintSample)
      .agg(coalesce(expr("bit_xor(xxhash64(vec_id, embedding))"), lit(0L))
        .as("sig")).head.getLong(0)

  /** Highest vec_id covered by an index build/append — the growth
    * frontier [[ivfFreshen]] splits the delta at (parquet answers max
    * from column statistics; −1 on an empty relation).
    */
  private def maxVecId(rows: DataFrame): Long =
    rows.agg(coalesce(max(col("vec_id")), lit(-1L))).head.getLong(0)

  /** True when the index at `path` is complete (cent written — the
    * completeness marker) AND its stamped corpus fingerprint matches
    * `corpus` — the build-if-absent guard of the unversioned serve
    * convenience paths. A legacy meta without `sig` reads as stale
    * (one rebuild re-stamps it). The probe is corpus-independent by
    * construction (footer-stat count + the fixed sample window — see
    * [[corpusFingerprint]]), so serve-only pricing stays flat; a
    * standing 100 TB deployment pins freshness structurally instead —
    * the versioned [[graphPublishVersion]]/[[ivfPublishVersion]]
    * rotation plus the [[graft.streaming.IvfStream.rebuildSignal]]
    * drift monitor — and never re-checks per batch.
    */
  def indexFresh(spark: org.apache.spark.sql.SparkSession, path: String,
                 corpus: DataFrame): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val centP = new org.apache.hadoop.fs.Path(s"$path/cent")
    if (!centP.getFileSystem(conf).exists(centP)) return false
    // a missing/corrupt meta under a PRESENT cent is the
    // bumpAppendedMeta crash window — stale, not an error: the
    // convenience paths' answer to stale is exactly the rebuild that
    // recovers it
    val meta = scala.util.Try(spark.read.parquet(s"$path/meta"))
      .toOption.getOrElse(return false)
    if (!meta.columns.contains("sig")) return false
    val m = meta.select(col("built_n"), col("sig")).head
    (m.getLong(0), m.getLong(1)) == corpusFingerprint(corpus)
  }

  /** Stored entry-centroid set of a [[graphWriteAtRest]] layout. */
  def graphStoredCentroids(spark: org.apache.spark.sql.SparkSession,
                           path: String): DataFrame =
    spark.read.parquet(s"$path/cent")

  /** Versioned at-rest graph index with atomic swap: `$root/v=N` is a
    * complete [[graphWriteAtRest]] layout, committed by creating an
    * empty `_PUBLISHED` marker LAST. Readers resolve max(published N)
    * once per batch, so a half-written rebuild is invisible (marker
    * creation is the atomic commit — no pointer file to race on), an
    * in-flight batch never mixes versions (it resolved one path), and
    * old versions stay readable until explicitly removed — the
    * blue/green index rotation a serving tier needs under
    * [[graft.streaming.IvfStream]]-detected drift.
    */
  def graphPublishVersion(corpus: DataFrame, centroids: DataFrame,
                          k: Int, rounds: Int, root: String,
                          buckets: Int = -1,
                          centralHeads: Boolean = false): Int = {
    val spark = corpus.sparkSession
    val next = graphCurrentVersion(spark, root).map(_ + 1).getOrElse(0)
    val dir = graphVersionPath(root, next)
    graphWriteAtRest(corpus, centroids, k, rounds, dir, buckets,
      centralHeads)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_PUBLISHED"), true)
      .close()
    next
  }

  /** [[graphPublishVersion]] seeded from the PREVIOUS published
    * version's neighbor lists ([[knnGraphWarm]]) — the
    * drift-triggered rebuild a standing deployment actually runs: the
    * graph lifecycle is the engine's biggest absolute build cost, and
    * warm-started NN-Descent converges in `warmRounds` (default 1)
    * instead of a cold build's 3 because the prior lists are already
    * near-correct for the unchanged mass. Falls back to a cold build
    * (`coldRounds`) when no version is published yet. The published
    * layout is format-identical to a cold one ([[writeGraphLayout]]),
    * so rotation, retention, pinning, and the serve walk are
    * untouched; the warm graph's quality gate is the measured recall
    * floor (COVERAGE.md, "Warm-start graph rebuilds"), not the cold
    * build's oracle.
    */
  def graphPublishVersionWarm(corpus: DataFrame, centroids: DataFrame,
                              k: Int, root: String,
                              warmRounds: Int = 1, coldRounds: Int = 3,
                              buckets: Int = -1,
                              centralHeads: Boolean = false): Int = {
    val spark = corpus.sparkSession
    graphCurrentVersion(spark, root) match {
      case None =>
        graphPublishVersion(corpus, centroids, k, coldRounds, root,
          buckets, centralHeads)
      case Some(prev) =>
        val prevPath = graphVersionPath(root, prev)
        val edges = knnGraphWarm(corpus, centroids, k, warmRounds,
          spark.read.parquet(s"$prevPath/nodes").select(col("vec_id")),
          spark.read.parquet(s"$prevPath/adj")
            .select(col("src"), col("dst")))
        val next = prev + 1
        val dir = graphVersionPath(root, next)
        writeGraphLayout(corpus, centroids, edges, k, dir, buckets,
          centralHeads)
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.create(new org.apache.hadoop.fs.Path(s"$dir/_PUBLISHED"), true)
          .close()
        next
    }
  }

  /** Highest PUBLISHED version under `root`, if any. */
  def graphCurrentVersion(spark: org.apache.spark.sql.SparkSession,
                          root: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val vs = fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.drop(2) }
      .flatMap(n => scala.util.Try(n.toInt).toOption)
      .filter(v => fs.exists(
        new org.apache.hadoop.fs.Path(s"${graphVersionPath(root, v)}/_PUBLISHED")))
    if (vs.isEmpty) None else Some(vs.max)
  }

  def graphVersionPath(root: String, version: Int): String =
    s"$root/v=$version"

  /** Retention for the versioned index root: delete PUBLISHED versions
    * beyond the newest `keepLast`, returning the versions removed.
    * Invariants that keep rotation safe for in-flight readers:
    *  - the CURRENT (max published) version is never deleted, whatever
    *    `keepLast` says — a reader that just resolved it must survive;
    *  - only versions with a `_PUBLISHED` marker are candidates: an
    *    unpublished `v=N` directory is either a rebuild IN PROGRESS
    *    (newer than current — deleting it would race the writer) or a
    *    failed one (harmless, diagnosable), so pruning leaves both;
    *  - a reader mid-batch on any RETAINED version is unaffected —
    *    prune removes only strictly older published versions, and a
    *    batch resolves its version exactly once
    *    ([[graft.streaming.GraphServeStream]]), so the window where an
    *    old version must stay readable is one micro-batch, which
    *    `keepLast >= 2` covers with a full version to spare.
    */
  def graphRetainVersions(spark: org.apache.spark.sql.SparkSession,
                          root: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "retention must keep at least the current version")
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val published = fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.drop(2) }
      .flatMap(n => scala.util.Try(n.toInt).toOption)
      .filter(v => fs.exists(new org.apache.hadoop.fs.Path(
        s"${graphVersionPath(root, v)}/_PUBLISHED")))
      .sorted(Ordering[Int].reverse)
    val doomed = published.drop(math.max(keepLast, 1))
    doomed.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(graphVersionPath(root, v)),
        true)
    }
    doomed
  }

  /** Above this many candidate ids, the walk's ROW-level id filters
    * ship as a broadcast semi-join instead of an `isin` literal list:
    * at the documented 4096-query serve cap with beam 20 / k 10, a
    * literal list would be an ~800k-node expression tree per round
    * (driver memory + codegen limits), where a broadcast of the same
    * ids costs nothing at small batches and stays flat at the cap.
    * The bucket `isin` (≤ `buckets` literals) always stays literal —
    * that is what prunes partitions at the FILE level, which a join
    * cannot do.
    */
  private[graft] val IdInlineCap = 10000

  /** Row-level id filter under [[IdInlineCap]]: literal `isin` when
    * the list is small (pushes into the parquet scan), broadcast
    * LEFT SEMI join above it (same rows, no giant expression tree).
    */
  private def filterIds(df: DataFrame, idCol: String,
                        ids: Seq[Long]): DataFrame =
    if (ids.length <= IdInlineCap)
      df.filter(col(idCol).isin(ids.map(java.lang.Long.valueOf): _*))
    else {
      val session = df.sparkSession
      import session.implicits._
      df.join(broadcast(ids.toDF(idCol)), Seq(idCol), "left_semi")
    }

  /** The pruned adjacency read of one search round: bucket isin
    * (partition/file-level pruning) + src id filter (row-level —
    * literal under [[IdInlineCap]], broadcast semi-join above). Split
    * out so its plan shape is pinnable independently of the driver
    * loop.
    */
  private[graft] def graphAdjPruned(
      spark: org.apache.spark.sql.SparkSession, path: String,
      srcIds: Seq[Long], buckets: Int,
      maxEpoch: Long = Long.MaxValue): DataFrame = {
    val bks = srcIds.map(id => (((id % buckets) + buckets) % buckets).toInt)
      .distinct.sorted
    filterIds(
      epochBound(spark.read.parquet(s"$path/adj"), maxEpoch)
        .filter(col("bucket").isin(bks.map(Integer.valueOf): _*)),
      "src", srcIds)
      .select(col("src"), col("dst"))
  }

  /** The pruned NODE read of a walk's scoring step: bucket isin
    * (partition/file-level pruning) + vec_id filter (literal under
    * [[IdInlineCap]], broadcast semi-join above). Split out so its
    * plan shape is pinnable independently of the driver loop — the
    * [[graphAdjPruned]] treatment for the vector side.
    */
  private[graft] def graphNodesPruned(
      spark: org.apache.spark.sql.SparkSession, path: String,
      ids: Seq[Long], buckets: Int,
      maxEpoch: Long = Long.MaxValue): DataFrame = {
    val bks = ids
      .map(id => (((id % buckets) + buckets) % buckets).toInt)
      .distinct.sorted
    filterIds(
      epochBound(spark.read.parquet(s"$path/nodes"), maxEpoch)
        .filter(col("bucket").isin(bks.map(Integer.valueOf): _*)),
      "vec_id", ids)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("c_nrm", norm(col("v")))
  }

  /** Greedy best-first search over a [[graphWriteAtRest]] layout — the
    * serving half of the NN-Descent index (the HNSW layer-0 walk,
    * batched): every query enters at its nearest IVF cell's stored
    * head nodes, then for a fixed number of rounds expands its current
    * top-`beam` candidates through the stored adjacency, scores the
    * neighbors, and keeps the accumulated candidate set; final answer
    * is the top-k of everything scored. All queries advance
    * SIMULTANEOUSLY (the [[knnGraph]] treatment), one Spark job per
    * round.
    *
    * Determinism & parity: every rank is (cos desc, vec_id), every
    * cosine the same double fold, the candidate set evolves by
    * set-union + distinct — so a fixed `rounds` unroll is
    * bit-reproducible and the oracle replays the identical walk.
    *
    * Scale shape — the corpus is NEVER scanned: per round the frontier
    * (≤ |queries|·beam ids, driver-bounded by the ≤4096 anchor rule)
    * prunes the adjacency read to its buckets, the ≤ frontier·k
    * neighbor ids prune the node read to THEIR buckets, and scoring
    * joins those pruned rows against the broadcast query table.
    * Driver state is candidate IDs only (≤ queries·beam·k per round) —
    * never vectors, never corpus-sized. Candidate relations are
    * per-round lazily checkpointed (the small-relation discipline).
    */
  def graphTopKAtRest(spark: org.apache.spark.sql.SparkSession,
                      path: String, queries: DataFrame,
                      centroids: DataFrame, beam: Int, rounds: Int,
                      k: Int, buckets: Int = -1,
                      entryProbe: Int = 1,
                      maxEpoch: Long = EpochCommitted): DataFrame = {
    import spark.implicits._
    val epochCap = resolveMaxEpoch(spark, path, maxEpoch)
    val cent = collectVectors(centroids)
    val qdf = queries
      .select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("q_vec"))
      // value-dedup ONCE: an at-least-once batch can repeat a query
      // row; the old shape collapsed the duplicates in its per-round
      // distinct() — with driver-merged rounds the dedup moves to the
      // one place duplicates enter (broadcast joins would otherwise
      // multiply every scored pair per copy)
      .distinct()
      .withColumn("q_nrm", norm(col("q_vec")))
      .localCheckpoint(eager = false)
    val qIds = qdf.select(col("q_id")).collect().map(_.getLong(0))
    require(qIds.length <= 4096, s"query set too large: ${qIds.length}")
    // validate against the layout's OWN metadata: the stored per-cell
    // head cap is 2·BUILD-k, which the serve-time k does not determine
    // — bounding beam by 2·serve-k would silently truncate entry heads
    // whenever serve k > build k and diverge from the oracle's
    // uncapped hr <= beam. A layout without meta predates the format
    // (or was written by external tooling) — fail with the format
    // story, not a raw path-not-found from the parquet reader.
    val metaPath = new org.apache.hadoop.fs.Path(s"$path/meta")
    require(metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(metaPath),
      s"graph layout at $path has no meta relation — a legacy or " +
        "foreign layout; rebuild it with graphWriteAtRest (the layout " +
        "format stores build_k/head_cap/buckets so serving validates " +
        "against what was written)")
    val meta = spark.read.parquet(s"$path/meta").head
    val storedCap = meta.getAs[Int]("head_cap")
    val storedBuckets = meta.getAs[Int]("buckets")
    // bucket count is a LAYOUT property: default (-1) takes it from
    // meta — serving can never disagree with the files it prunes — and
    // an explicit caller value is a validation assertion only
    require(buckets == -1 || buckets == storedBuckets,
      s"layout was written with $storedBuckets buckets, " +
        s"caller asserted $buckets")
    val useBuckets = storedBuckets
    require(beam >= 1 && beam <= storedCap,
      s"beam must fit the stored per-cell head cap ($storedCap)")
    // an empty query batch (a quiet streaming trigger) answers itself
    if (qIds.isEmpty)
      return Seq.empty[(Long, Long, Double, Int)]
        .toDF("q_id", "vec_id", "cos_sim", "rn")

    // score a literal (q_id, vec_id) candidate list: nodes pruned to
    // the candidates' buckets + ids, broadcast-joined to the pairs and
    // the query table — the only place vectors are read, and never
    // more than |pairs| of them
    def scorePairs(pairs: Seq[(Long, Long)]): DataFrame = {
      val ids = pairs.map(_._2).distinct
      graphNodesPruned(spark, path, ids, useBuckets, epochCap)
        .join(broadcast(pairs.toDF("q_id", "vec_id")), Seq("vec_id"))
        .join(broadcast(qdf), Seq("q_id"))
        .select(col("q_id"), col("vec_id"),
          (dot(col("q_vec"), col("v")) / (col("q_nrm") * col("c_nrm")))
            .as("cos_sim"))
    }

    require(entryProbe >= 1, "at least one entry cell")
    // entry points: each query's `entryProbe` nearest cells (dot
    // desc, smallest c_id tie — the IVF probe rule) -> the first
    // `beam` stored heads of each; multi-probing is the hedge
    // against the wrong-entry-cell miss class sim_graph_recall
    // measures (a perfect graph cannot recover from a bad entry
    // within a fixed round budget)
    val qCells = qdf
      .select(col("q_id"), col("q_vec").as("v"))
      .withColumn("scores_arr", cellScores(cent))
      .withColumn("cells",
        expr("transform(array_sort(scores_arr), x -> x.c_id)"))
      .select(col("q_id"),
        explode(slice(col("cells"), 1, entryProbe)).as("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val headRows = spark.read.parquet(s"$path/heads")
      .filter(col("cell").isin(
        qCells.map(_._2).distinct.sorted.map(Integer.valueOf): _*) &&
        col("hr") <= beam)
      .select(col("cell"), col("vec_id"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val headsByCell = headRows.groupBy(_._1)
    val seedPairs = qCells.flatMap { case (q, cell) =>
      headsByCell.getOrElse(cell, Array.empty[(Int, Long)])
        .map(_._2).filter(_ != q).map(id => (q, id))
    }.toSeq.distinct

    // Driver-merged walk state (r17, guide §2.4/§1.2): the previous
    // shape kept `visited` as a growing Spark relation and paid, per
    // round, a window shuffle (frontier rank), a distinct shuffle, a
    // union lineage pin, and a second distinct on the candidate pairs
    // — ~54 AQE stage-jobs / 400 tasks per 10-query walk, all over
    // driver-bounded data the loop was ALREADY collecting as ids.
    // Since every round must collect the frontier to prune the next
    // adjacency read, collecting the scores next to the ids adds only
    // 8 bytes/row to the same driver-bounded relations (≤ queries ·
    // (entryProbe·beam + rounds·beam·k) pairs — the documented ≤4096
    // anchor rule bounds it) and removes EVERY per-round shuffle: the
    // driver keeps the best-known candidate set per query, computes
    // the next frontier by the identical (cos desc, vec_id) rank, and
    // skips already-scored pairs instead of re-scoring + distinct-ing
    // them. Spark still does all vector work: each round is one
    // bucket-pruned adjacency read + one bucket-pruned node scoring
    // job, and the RETURNED relation re-scores the accumulated pairs
    // in one pruned-scan pass + one window — the same plan shape
    // (layout-only scans, bucket PartitionFilters) as before, so the
    // walk's result and its plan pins are unchanged while the rounds
    // drop from ~13 shuffles to zero.
    val cmp: Ordering[(Double, Long)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Long)
    val scored = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.HashMap[Long, Double]]
    def merge(rows: Array[org.apache.spark.sql.Row]): Unit =
      rows.foreach { r =>
        scored.getOrElseUpdate(r.getLong(0),
            scala.collection.mutable.HashMap.empty[Long, Double])
          .update(r.getLong(1), r.getDouble(2))
      }
    if (seedPairs.nonEmpty) merge(scorePairs(seedPairs).collect())
    for (_ <- 1 to rounds) {
      val frontier = scored.iterator.flatMap { case (q, m) =>
        m.iterator.map { case (id, c) => (q, id, c) }
          .toSeq.sortBy(t => (t._3, t._2))(cmp).take(beam)
      }.toSeq
      val srcIds = frontier.map(_._2).distinct
      if (srcIds.nonEmpty) {
        // one pruned read of the frontier's adjacency; the frontier
        // pair-join and candidate dedup are driver arithmetic over
        // the rows this loop collected anyway
        val adjRows = graphAdjPruned(spark, path, srcIds, useBuckets,
            epochCap)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val bySrc = adjRows.groupBy(_._1)
        val newPairs = frontier.flatMap { case (q, src, _) =>
          bySrc.getOrElse(src, Array.empty[(Long, Long)]).iterator
            .map(_._2)
            .filter(d => d != q && !scored(q).contains(d))
            .map(d => (q, d))
        }.distinct
        if (newPairs.nonEmpty) merge(scorePairs(newPairs).collect())
      }
    }
    // final answer recomputed IN SPARK over the accumulated candidate
    // pairs: one pruned node read + broadcast joins + the same
    // (cos desc, vec_id) window — bit-identical scores (same
    // expression over the same rows), and the returned plan carries
    // the layout's pruned scans for the shape pins
    val allPairs = scored.iterator.flatMap { case (q, m) =>
      m.keysIterator.map(id => (q, id))
    }.toSeq.sorted
    if (allPairs.isEmpty)
      return Seq.empty[(Long, Long, Double, Int)]
        .toDF("q_id", "vec_id", "cos_sim", "rn")
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scorePairs(allPairs)
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("cos_sim"), col("rn"))
  }

  /** Parallelism floor for heavy per-row projections (guide §2.5,
    * "input skew: one huge unsplittable file"): the PQ encode costs
    * m·k dist2 folds per row, and a corpus that arrives as a single
    * unsplittable parquet file (one row group — the local testdata
    * shape) runs the WHOLE encode in one task while every other core
    * idles. When the scan's planned parallelism is below the session
    * default, repartition once after the read; at production scale
    * the corpus arrives in many splits and this is a no-op (the
    * condition, not the shuffle, is what ships). Deterministic:
    * round-robin repartition sorts before exchanging
    * (spark.sql.execution.sortBeforeRepartition) and every consumer
    * is partition-order-independent (per-row projections, hash
    * aggregates, id-keyed joins).
    */
  private def spread(df: DataFrame): DataFrame = {
    // shuffle-in-plan short-circuit BEFORE touching .rdd (r18): under
    // AQE, .rdd materializes every intermediate query stage eagerly,
    // so gating a post-repartition accessor output here ran one
    // redundant scan+shuffle job per PQ write/train call — see
    // [[graft.core.Parallelism.planHasShuffle]]
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (!graft.core.Parallelism.planHasShuffle(df) &&
        df.rdd.getNumPartitions < math.min(p, 16)) df.repartition(p)
    else df
  }

  /** Untrained codebook init (the k-means seed): codebook j = the j-th
    * sub-vectors of the centroid rows, code id = vec_id (dense 0..k−1
    * in every declared query). [[pqTrainBooks]] refines these; using
    * them directly is the "k data rows as codes" baseline.
    */
  def pqInitBooks(centroids: DataFrame, m: Int): Books = {
    val cent = collectVectors(centroids)
    require(cent.nonEmpty, "empty codebook")
    val dims = cent.head._2.length
    require(dims % m == 0, s"$dims dims not divisible into $m subspaces")
    val sub = dims / m
    (0 until m).map { j =>
      cent.map { case (id, v) => (id, v.slice(j * sub, j * sub + sub)) }
    }
  }

  /** Squared L2 distance of a sub-vector column to a literal centroid,
    * as the same left-to-right fold the oracle's list comprehension
    * produces — bit-identical across engines.
    */
  private def dist2(sv: Column, cv: Array[Double]): Column =
    // the codegen'd Σ(a−b)² kernel (r17): same left-to-right fold the
    // oracle's list comprehension produces, without the two zip_with
    // difference-array materializations per evaluation
    distSq(sv, lit(cv))

  /** Subspace-j quantization of vector column `v` under `book`: the
    * (d2, c_id) struct of the NEAREST codebook entry — min squared L2
    * with ties to the smallest code (array_sort on (d2 asc, c_id
    * asc)), Jégou et al.'s assignment rule. `.c_id` is the code,
    * `.d2` the per-subspace reconstruction error, both from one sort.
    */
  /** Assignment over a PRE-SLICED sub-vector column: callers hoist
    * `slice(v, j·sub+1, sub)` into their own projection so the slice
    * materializes once per (row, subspace) — embedded here it would
    * re-evaluate once per CODE (k× the allocations; expression trees
    * do not memoize per row, and the fold below runs interpreted
    * where no subexpression elimination applies).
    */
  private def assignStruct(sv: Column,
                           book: Seq[(Int, Array[Double])]): Column = {
    // fused native kernel (r18, the r17 verdict's backlog #1): the
    // strict-< fold below still ran as a CodegenFallback `aggregate`
    // HOF around the codegen'd graft_dist2 — a k-struct array plus one
    // accumulator row per fold step per (row, subspace). One loop now
    // computes every d2 and keeps the NaN-safe strict minimum
    // (first-seen = smallest code id; [[Books]] entries are sorted by
    // id). Seeds from entry 0 instead of (+Infinity, -1), which
    // restores the original array_sort-head semantics for degenerate
    // all-NaN inputs (r17 ADVICE) and is indistinguishable on any
    // finite d2 — PqArgMinSpec pins bit-parity against the fold.
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.PqArgMinExpr(
      ColumnBridge.expression(sv),
      book.map(_._1), book.flatMap(_._2.toSeq)))
  }

  /** The declarative fold [[assignStruct]] fuses — kept as the
    * reference semantics the codegen expression must match bit for
    * bit (PqArgMinSpec), never called from a query path.
    */
  private[graft] def assignStructDeclarative(sv: Column,
      book: Seq[(Int, Array[Double])]): Column = {
    val dotted = array(book.map { case (id, cv) =>
      struct(dist2(sv, cv).as("d2"), lit(id).as("c_id"))
    }: _*)
    val init = struct(lit(Double.PositiveInfinity).as("d2"),
      lit(-1).as("c_id"))
    aggregate(dotted, init, (acc, x) =>
      when(x.getField("d2") < acc.getField("d2"), x).otherwise(acc))
  }

  /** Train the PQ codebooks per sub-space (Jégou et al. 2011 §II:
    * independent k-means per subspace): each Lloyd iteration assigns
    * every sub-vector to its min-L2 codebook entry and replaces each
    * entry with the mean of its members (empty cells keep their
    * previous entry). Seeded by [[pqInitBooks]] so training is
    * deterministic and engine-reproducible — the oracle unrolls the
    * same iterations as SQL CTEs.
    *
    * Scale shape: ONE distributed pass per iteration covering all `m`
    * subspaces — assignment is a literal-codebook projection (the
    * corpus never shuffles to be labeled) and the mean update reduces
    * through an (m, code, dim) hash aggregate whose key space is
    * m·k·subDims (4·16·16 = 1024 rows here) regardless of corpus
    * size; driver state is the codebooks themselves.
    */
  def pqTrainBooks(corpus: DataFrame, centroids: DataFrame, m: Int,
                   iters: Int): Books = {
    val init = pqInitBooks(centroids, m)
    val sub = init.head.head._2.length
    // sub-vector slices hoisted into their own projection: one slice
    // per (row, subspace), shared by the assignment fold AND the
    // emitted sv (k+1 evaluations otherwise)
    val base = spread(corpus.select(asDouble(col("embedding")).as("v")))
      .select((0 until m).map(j =>
        slice(col("v"), j * sub + 1, sub).as(s"sv_$j")): _*)
    (0 until iters).foldLeft(init) { (books, _) =>
      val perSub = array((0 until m).map { j =>
        struct(lit(j).as("m"),
          assignStruct(col(s"sv_$j"), books(j))
            .getField("c_id").as("c_id"),
          col(s"sv_$j").as("sv"))
      }: _*)
      val sums = base.select(explode(perSub).as("s"))
        .select(col("s.m").as("m"), col("s.c_id").as("c_id"),
          posexplode(col("s.sv")).as(Seq("dim", "x")))
        .groupBy(col("m"), col("c_id"), col("dim"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
        .collect()
      val byKey = sums.groupBy(r => (r.getAs[Int]("m"), r.getAs[Int]("c_id")))
      books.zipWithIndex.map { case (book, j) =>
        book.map { case (id, old) =>
          byKey.get((j, id)) match {
            case Some(rows) =>
              val v = new Array[Double](sub)
              rows.foreach(r => v(r.getAs[Int]("dim")) =
                r.getAs[Double]("sx") / r.getAs[Long]("cnt").toDouble)
              (id, v)
            case None => (id, old)
          }
        }
      }
    }
  }

  /** Product-quantization codes (Jégou et al. 2011, "Product
    * quantization for nearest neighbor search"): the vector splits into
    * `m` contiguous subspaces and each sub-vector is replaced by the id
    * of its NEAREST (min squared-L2) codebook entry — 64 float dims
    * become `m` small ints, the compression that lets an executor hold
    * the whole corpus's codes in memory at 100 TB. Codebooks are
    * inlined literals (same discipline as [[signBuckets]]) — train
    * them with [[pqTrainBooks]] — and assignment is a pure map-side
    * projection; the corpus is never shuffled to be coded.
    *
    * Output: (vec_id, code_0 … code_{m-1}) — wide, not exploded, so
    * downstream scoring stays per-row arithmetic.
    */
  def pqCodesWith(corpus: DataFrame, books: Books): DataFrame = {
    val m = books.length
    val sub = books.head.head._2.length
    corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id") +: col("v") +:
        (0 until m).map(j =>
          slice(col("v"), j * sub + 1, sub).as(s"sv_$j")): _*)
      .select(col("vec_id") +: col("v") +:
        (0 until m).map(j => assignStruct(col(s"sv_$j"), books(j))
          .getField("c_id").as(s"code_$j")): _*)
  }

  /** [[pqCodesWith]] over the untrained [[pqInitBooks]] seed. */
  def pqCodes(corpus: DataFrame, centroids: DataFrame, m: Int): DataFrame =
    pqCodesWith(corpus, pqInitBooks(centroids, m))

  /** IVF cell-balance histogram — the load-balance audit behind the
    * "partition the corpus BY CELL at rest" advice in [[ivfTopK]]:
    * per cell, its vector count and load factor (count·k/N, 1.0 =
    * perfectly even). Skewed cells are THE operational failure of IVF
    * at scale — a 10× hot cell means 10× probe latency and a 10×
    * partition — and this table is how you see it before it pages
    * you. Assignment is the same map-side argmax projection as
    * [[semDedup]]/[[ivfTopK]]; the histogram is one k-row aggregate.
    */
  def ivfCellBalance(corpus: DataFrame,
                     centroids: DataFrame): DataFrame = {
    val cent = collectVectors(centroids)
    val assigned = corpus
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("cell", top2Cells(cent).getField("b1i"))
    val counts = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"))
    val total = broadcast(counts.agg(sum(col("n_vecs")).as("n_total")))
    counts.crossJoin(total)
      .select(col("cell"), col("n_vecs"), col("n_total"),
        (col("n_vecs").cast("double") * lit(cent.size.toDouble) /
          col("n_total").cast("double")).as("load_factor"))
  }

  /** PQ reconstruction distortion — the quantizer's self-evaluation
    * (the [[randomProjection]] / ANN-recall pattern applied to PQ):
    * per vector, the squared L2 error between the original and its
    * codebook reconstruction, next to the squared norm — rel_dist2 is
    * the fraction of signal the m-subspace code threw away, the
    * number that justifies (or indicts) the codebook at this corpus's
    * geometry. (It caught exactly that in an earlier revision: max-dot
    * assignment against untrained data-row codebooks measured mean
    * rel_dist2 ≈ 1.2 — worse than emitting the zero vector — which is
    * why codes now come from [[pqTrainBooks]] + min-L2.)
    *
    * Pure projection: each subspace's (code, error) falls out of ONE
    * literal-codebook [[assignStruct]] sort — the min-L2 distance IS
    * the reconstruction error — so the corpus is never shuffled and
    * nothing joins.
    */
  def pqDistortionWith(corpus: DataFrame, books: Books): DataFrame = {
    val m = books.length
    val sub = books.head.head._2.length
    val errCols = (0 until m).map(j =>
      assignStruct(col(s"sv_$j"), books(j)).getField("d2").as(s"e_$j"))
    spread(corpus.select(col("vec_id"), asDouble(col("embedding")).as("v")))
      .select(col("vec_id") +: col("v") +:
        (0 until m).map(j =>
          slice(col("v"), j * sub + 1, sub).as(s"sv_$j")): _*)
      .select(col("vec_id") +: col("v") +: errCols: _*)
      .select(col("vec_id"),
        dot(col("v"), col("v")).as("n2"),
        (0 until m).map(j => col(s"e_$j")).reduce(_ + _).as("dist2"))
      .withColumn("rel_dist2",
        when(col("n2") > 0.0, col("dist2") / col("n2")).otherwise(lit(0.0)))
  }

  /** [[pqDistortionWith]] over the untrained [[pqInitBooks]] seed. */
  def pqDistortion(corpus: DataFrame, centroids: DataFrame,
                   m: Int): DataFrame =
    pqDistortionWith(corpus, pqInitBooks(centroids, m))

  /** Asymmetric-distance score Σ_j dot(q_subvec_j, codebook_j[code_j])
    * against query column `q_vec`, reconstructed per row in fixed
    * left-to-right order (bit-deterministic; no aggregation whose
    * order could vary). Requires dense 0..k−1 code ids (checked).
    */
  private def pqApproxDot(books: Books, sub: Int): Column = {
    books.foreach(b => require(b.map(_._1) == (0 until b.length),
      "PQ scoring needs dense 0..k-1 code ids"))
    (0 until books.length).map { j =>
      val bookJ = array(books(j).map { case (_, cv) => lit(cv) }: _*)
      dot(slice(col("q_vec"), j * sub + 1, sub),
        element_at(bookJ, col(s"code_$j").cast("int") + 1))
    }.reduce(_ + _)
  }

  /** Asymmetric PQ top-k: queries stay full-precision, the corpus is
    * its codes — each (query, vector) score is Σ_j dot(q_subvec_j,
    * codebook_j[code_j]). Plan shape is [[bruteForceTopK]]'s: queries
    * broadcast, corpus scanned once map-side, per-query top-k as a
    * windowed rank. At scale the scored corpus side carries `m` ints
    * per row instead of the full vector — the point of PQ.
    */
  def pqTopKWith(corpus: DataFrame, queries: DataFrame, books: Books,
                 k: Int): DataFrame = {
    val sub = books.head.head._2.length
    val coded = pqCodesWith(corpus, books).drop("v")
    val q = queries.select(col("vec_id").as("q_id"),
      asDouble(col("embedding")).as("q_vec"))
    val scored = coded.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), pqApproxDot(books, sub).as("approx_dot"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_dot").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("approx_dot"), col("rn"))
  }

  /** [[pqTopKWith]] over the untrained [[pqInitBooks]] seed. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
             m: Int, k: Int): DataFrame =
    pqTopKWith(corpus, queries, pqInitBooks(centroids, m), k)

  /** Sign-LSH bucket signature: bit j = 1 iff dot(v, anchor_j) > 0.
    * Anchors are taken deterministically from the dataset itself
    * (`vec_id < nBits`), making the "random" hyperplanes reproducible in
    * any engine without a shared RNG. Anchors are inlined as literals,
    * so bucketing is map-side only — zero shuffles.
    */
  def signBuckets(corpus: DataFrame, anchors: DataFrame, nBits: Int): DataFrame = {
    val anch = collectVectors(anchors)
    val bucket = anch.map { case (id, av) =>
      when(dot(col("v"), lit(av)) > 0, lit(1L << id)).otherwise(0L)
    }.reduce(_ + _)
    corpus
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("bucket", bucket)
  }

  /** IVF-style ANN: assign every corpus vector to its best centroid
    * "cell" (argmax dot, deterministic tie-break by centroid id), then
    * answer queries by scoring only the `nProbe` most promising cells.
    *
    * This is the inverted-file layout at 100 TB: the corpus is
    * PARTITIONED BY CELL at rest, a query touches nProbe partitions
    * instead of the whole corpus, and the probe-cell join is a hash
    * join on the cell id — no cross product anywhere. Centroids are
    * data-derived (first k vectors) for engine-reproducible assignment;
    * a k-means refinement would drop in without changing the query
    * shape.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
              nProbe: Int, k: Int): DataFrame =
    ivfTopKWith(corpus, queries, collectVectors(centroids), nProbe, k)

  /** [[ivfTopK]] with pre-materialized centroids (e.g. refined by
    * [[kmeansCentroids]]) — identical query shape.
    */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame,
                  cent: Seq[(Int, Array[Double])],
                  nProbe: Int, k: Int): DataFrame = {
    // per-row cell ranking as a pure projection: sort the (−dot, c_id)
    // struct array and take the first nProbe cells — argmax with the
    // same deterministic tie-break as ROW_NUMBER(ORDER BY cd DESC, c_id),
    // and the corpus is never shuffled just to be assigned
    def withScores(df: DataFrame) = {
      val scores = cellScores(cent)
      df.select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("scores_arr", scores)
        .withColumn("cells", expr("transform(array_sort(scores_arr), x -> x.c_id)"))
        .drop("scores_arr")
    }
    val assigned = withScores(corpus)
      .select(col("vec_id"), col("v"), col("cells").getItem(0).as("cell"))
      .withColumn("c_nrm", norm(col("v")))
    val probes = withScores(queries)
      .select(col("vec_id").as("q_id"), col("v").as("q_vec"),
        explode(slice(col("cells"), 1, nProbe)).as("cell"))
      .withColumn("q_nrm", norm(col("q_vec")))
    val scored = assigned.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
              (dot(col("q_vec"), col("v")) / (col("q_nrm") * col("c_nrm")))
                .as("cos_sim"))
    val wk = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("cos_sim"), col("rn"))
  }

  /** Materialize the corpus PARTITIONED BY IVF CELL at rest — the
    * layout every `ivfTopK` scaladoc has been pointing at: assignment
    * is the usual map-side argmax projection (corpus never shuffles to
    * be labeled), and `partitionBy("cell")` writes one directory per
    * cell so a probe can PRUNE to its cells at the FILE level instead
    * of re-scanning and re-assigning the whole corpus per query batch.
    * The full vector rides along; at 100 TB this is the vector store's
    * on-disk format (cells ≈ directories, [[ivfCellBalance]] audits
    * their skew before it becomes a hot partition).
    */
  def ivfWriteAtRest(corpus: DataFrame, centroids: DataFrame,
                     path: String): Unit = {
    val cent = collectVectors(centroids)
    // argmax via the top2Cells fold, not a |cells|-struct sort per row
    // (the kmeansCentroids rationale — identical (dot desc, c_id asc)
    // rule, O(1) state instead of O(cells) struct churn)
    corpus.select(col("vec_id"), col("embedding"))
      .withColumn("v", asDouble(col("embedding")))
      .withColumn("cell", top2Cells(cent).getField("b1i"))
      .drop("v")
      // epoch 0 = the build; incremental adds ([[ivfAppendDelta]])
      // stamp 1, 2, … so a probe pinned to an epoch sees exactly the
      // rows that existed when it resolved the index
      .withColumn("epoch", lit(0L))
      // repartition by the partition column (guide §6): one file per
      // cell directory instead of one fragment per upstream task per
      // cell — the assignment projection still runs pre-shuffle at
      // full scan parallelism, and cell sizes are bounded by the
      // autoCells rule (≈√n rows per cell)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
  }

  /** [[ivfTopK]] against an [[ivfWriteAtRest]] layout: the probed
    * cells are collected to a LITERAL `isin` filter (bounded by
    * |queries|·nProbe — query-side small by the ≤4096 anchor rule),
    * so the parquet scan carries a PartitionFilter and reads ONLY the
    * probed cells' directories — no per-query re-assignment of the
    * corpus, no full scan. Scoring and ranking are bit-identical to
    * [[ivfTopKWith]]: same cells, same cosine, same tie-breaks.
    */
  def ivfTopKAtRest(spark: org.apache.spark.sql.SparkSession, path: String,
                    queries: DataFrame, centroids: DataFrame,
                    nProbe: Int, k: Int,
                    maxEpoch: Long = EpochCommitted): DataFrame = {
    val epochCap = resolveMaxEpoch(spark, path, maxEpoch)
    val cent = collectVectors(centroids)
    val scores = cellScores(cent)
    val probes = queries
      .select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("v"))
      .withColumn("scores_arr", scores)
      .withColumn("cells", expr("transform(array_sort(scores_arr), x -> x.c_id)"))
      .select(col("q_id"), col("v").as("q_vec"),
        explode(slice(col("cells"), 1, nProbe)).as("cell"))
      .withColumn("q_nrm", norm(col("q_vec")))
      // the probe table feeds the probed-cell collect AND the scoring
      // join — pin it or the k-dot assignment pipeline runs twice
      .localCheckpoint(eager = false)
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val corpus = epochBound(spark.read.parquet(path), epochCap)
      .filter(col("cell").isin(probedCells.map(Integer.valueOf): _*))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"), col("cell"))
      .withColumn("c_nrm", norm(col("v")))
    val scored = corpus.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("q_vec"), col("v")) / (col("q_nrm") * col("c_nrm")))
          .as("cos_sim"))
    val wk = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("cos_sim"), col("rn"))
  }

  /** Self-contained IVF index at rest: `$path/codes` is the
    * [[ivfWriteAtRest]] cell-partitioned corpus, `$path/meta` records
    * the corpus size and cell count the index was built at (the
    * reference point the streaming drift monitor compares live growth
    * against, the [[graphWriteAtRest]] convention), and `$path/cent`
    * — written LAST, the layout's completeness marker — carries the
    * trained coarse quantizer itself. A FAISS index ships its
    * quantizer inside the index file for the same reason: serving
    * must assign query probes under the EXACT cell set the corpus was
    * partitioned by, and re-deriving centroids from the corpus at
    * serve time is a full corpus scan per serving session (plus a
    * correctness hazard — a corpus that grew since the build would
    * train DIFFERENT centroids than the stored cells were assigned
    * under, silently mis-probing every query).
    */
  def ivfWriteIndex(corpus: DataFrame, centroids: DataFrame,
                    path: String): Unit = {
    invalidateMarker(corpus, path)
    val cent = collectVectors(centroids)
    ivfWriteAtRest(corpus, centroids, s"$path/codes")
    import corpus.sparkSession.implicits._
    val (builtN, sig, maxId) = fingerprintStats(corpus)
    Seq((builtN, cent.length, sig, 0L, maxId))
      .toDF("built_n", "cells", "sig", "epoch", "max_vec_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    cent.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/cent")
  }

  /** Stored quantizer of an [[ivfWriteIndex]] layout — the centroid
    * relation serving resolves INSTEAD of retraining (bit-identical
    * by construction: it IS the trained set, persisted).
    */
  def ivfStoredCentroids(spark: org.apache.spark.sql.SparkSession,
                         path: String): DataFrame =
    spark.read.parquet(s"$path/cent")

  /** Self-contained IVFPQ index at rest — the [[ivfWriteIndex]]
    * discipline on the FAISS IVFPQ layout, where self-containment
    * matters MOST: this index has TWO trained components (the coarse
    * quantizer AND the m per-subspace PQ codebooks), and the stored
    * codes are meaningless under any other codebook set. Layout:
    * `$path/codes` = the [[ivfPqWriteAtRest]] cell-partitioned coded
    * corpus, `$path/books` = the codebooks as (m, c_id, cv) rows,
    * `$path/meta` = (built_n, cells, m), and `$path/cent` — written
    * LAST, the completeness marker — the coarse quantizer. Serving
    * resolves all trained state from the layout; re-training either
    * component at serve time would be a corpus pass AND would decode
    * the stored codes under the wrong codebooks.
    */
  def ivfPqWriteIndex(corpus: DataFrame, cellCentroids: DataFrame,
                      books: Books, path: String): Unit = {
    // mirror ivfPqStoredBooks's read-side bound at WRITE time: an
    // index that persists more codebook rows than serving will accept
    // is a delayed failure dressed as a successful build
    val bookRows = books.iterator.map(_.size).sum
    require(bookRows <= 4096,
      s"codebook set too large to serve: $bookRows rows (m × codes " +
        "per book must stay ≤ 4096, the ivfPqStoredBooks read bound)")
    invalidateMarker(corpus, path)
    val cent = collectVectors(cellCentroids)
    ivfPqWriteAtRest(corpus, cellCentroids, books, s"$path/codes")
    import corpus.sparkSession.implicits._
    books.zipWithIndex
      .flatMap { case (bk, j) => bk.map { case (id, cv) => (j, id, cv) } }
      .toDF("m", "c_id", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/books")
    val (builtN, sig, maxId) = fingerprintStats(corpus)
    Seq((builtN, cent.length, books.length, sig, 0L, maxId))
      .toDF("built_n", "cells", "m", "sig", "epoch", "max_vec_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    cent.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/cent")
  }

  /** Encoding stamped in a layout's meta — "raw" when the column is
    * absent (pre-residual layouts never carried one; every writer that
    * stamps anything else stamps it explicitly).
    */
  def indexEncoding(spark: org.apache.spark.sql.SparkSession,
                    path: String): String = {
    val meta = spark.read.parquet(s"$path/meta")
    if (!meta.columns.contains("encoding")) "raw"
    else meta.select(col("encoding")).head.getString(0)
  }

  /** Stored PQ codebooks of an [[ivfPqWriteIndex]] layout, rebuilt in
    * the exact [[Books]] structure they were trained as (subspaces in
    * order, entries sorted by code id — bit-identical literals).
    *
    * Refuses a layout whose meta encoding differs from
    * `expectEncoding` ("raw" by default): a residual layout
    * ([[ivfPqResidualWriteIndex]]) is shape-identical to a raw one and
    * shares the versioned-publish helpers, so without this gate a
    * serving path pointed at the wrong layout would silently score
    * residual codes as raw and return wrong neighbors. Residual
    * readers opt in with `expectEncoding = "residual"`.
    */
  def ivfPqStoredBooks(spark: org.apache.spark.sql.SparkSession,
                       path: String,
                       expectEncoding: String = "raw"): Books = {
    val enc = indexEncoding(spark, path)
    require(enc == expectEncoding,
      s"layout at $path is '$enc'-encoded; this reader scores " +
        s"'$expectEncoding' codes — serving it would decode under the " +
        "wrong decomposition")
    val rows = spark.read.parquet(s"$path/books")
      .select(col("m"), col("c_id"), col("cv")).collect()
    require(rows.length <= 4096, s"codebook set too large: ${rows.length}")
    rows.map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, es) =>
        es.sortBy(_._2).map { case (_, id, cv) => (id, cv) }.toSeq
      }
  }

  /** Current append epoch of a self-contained layout — the highest
    * epoch whose rows a probe may score. 0 when the meta predates
    * append support or the layout was never appended to.
    */
  def indexEpoch(spark: org.apache.spark.sql.SparkSession,
                 path: String): Long = {
    val meta = spark.read.parquet(s"$path/meta")
    if (!meta.columns.contains("epoch")) 0L
    else meta.select(col("epoch")).head.getLong(0)
  }

  /** Restrict an at-rest codes relation to rows visible at `maxEpoch`.
    * No-op at Long.MaxValue (the explicit everything-including-ghosts
    * opt-in) so that probe neither reads nor filters the epoch column;
    * an epoch-pinned probe (the serving streams — replay determinism
    * under concurrent append — and the [[EpochCommitted]] default)
    * filters `epoch <= maxEpoch`, which also hides the ghost rows a
    * crashed append leaves behind (codes landed, meta never bumped).
    */
  private def epochBound(codes: DataFrame, maxEpoch: Long): DataFrame =
    if (maxEpoch == Long.MaxValue || !codes.columns.contains("epoch")) codes
    else codes.filter(col("epoch") <= lit(maxEpoch))

  /** Sentinel default of the at-rest probes' `maxEpoch`: resolve the
    * COMMITTED epoch from the layout's own meta, so a probe against an
    * index someone else is appending to sees exactly the rows the meta
    * has committed — never the epoch-N+1 ghosts of a crashed or
    * in-flight append. The unfiltered scan (every row present on disk,
    * ghosts included) is the explicit `Long.MaxValue` opt-in, not the
    * default.
    */
  val EpochCommitted: Long = -1L

  /** Resolve [[EpochCommitted]] against the layout the codes relation
    * belongs to: a self-contained index keeps its codes at
    * `<index>/codes` with meta beside it; a bare [[ivfWriteAtRest]]
    * relation has no meta sibling (nothing to pin — every row is the
    * build) and an unreadable meta (the append-crash window) degrades
    * to unfiltered rather than failing the probe.
    */
  private def resolveMaxEpoch(spark: org.apache.spark.sql.SparkSession,
                              codesPath: String, maxEpoch: Long): Long = {
    if (maxEpoch != EpochCommitted) return maxEpoch
    val parent =
      if (codesPath.endsWith("/codes"))
        codesPath.substring(0, codesPath.length - "/codes".length)
      else codesPath
    val metaP = new org.apache.hadoop.fs.Path(s"$parent/meta")
    val fs = metaP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(metaP)) Long.MaxValue
    else scala.util.Try(indexEpoch(spark, parent))
      .getOrElse(Long.MaxValue)
  }

  /** FAISS-style `add` on the self-contained IVF index: assign the
    * delta under the STORED coarse quantizer (the exact build-time
    * argmax — never retrained, so old and new rows live under one
    * cell set), append the rows to the existing cell partitions at
    * epoch N+1, and bump meta's count + fingerprint + epoch — the
    * daily-delta path a 100 TB deployment takes instead of the full
    * rebuild, which [[graft.streaming.IvfStream.rebuildSignal]]
    * reserves for actual cell-histogram drift.
    *
    * Crash discipline: codes append FIRST, meta bump LAST. A crash
    * between leaves ghost rows at epoch N+1 that (a) epoch-pinned
    * probes never see (meta still says N) and (b) leave the stamped
    * fingerprint ≠ the grown corpus's, so [[indexFresh]] reports
    * stale and the convenience paths rebuild. [[appendGuard]] refuses
    * to stack a second append onto an un-recovered crash (its rows
    * would share the ghosts' epoch and resurrect them as duplicates).
    *
    * The fingerprint stays EXACT without rescanning the base corpus:
    * the signature is a window XOR, so newSig = oldSig ^
    * windowSig(delta) equals [[corpusFingerprint]] over base ∪ delta
    * by XOR associativity; the count adds. `indexFresh(path, grown)`
    * therefore holds after an append exactly as if the index had been
    * rebuilt on the grown corpus.
    *
    * Returns the new epoch. Delta must carry (vec_id, embedding).
    */
  def ivfAppendDelta(delta: DataFrame, path: String): Long = {
    val spark = delta.sparkSession
    val epoch = appendGuard(spark, path)
    val cent = collectVectors(ivfStoredCentroids(spark, path))
    delta.select(col("vec_id"), col("embedding"))
      .withColumn("v", asDouble(col("embedding")))
      .withColumn("cell", top2Cells(cent).getField("b1i"))
      .drop("v")
      .withColumn("epoch", lit(epoch))
      // one file per appended cell directory (guide §6)
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/codes")
    bumpAppendedMeta(spark, path, delta, epoch)
    epoch
  }

  /** [[ivfAppendDelta]] on the IVFPQ tier: the delta is PQ-encoded
    * under the STORED codebooks (raw or residual per the layout's own
    * meta encoding — appended codes are always decodable by the books
    * the probe will score with) and cell-assigned under the stored
    * quantizer. Same crash discipline, same incremental fingerprint.
    */
  def ivfPqAppendDelta(delta: DataFrame, path: String): Long = {
    val spark = delta.sparkSession
    val epoch = appendGuard(spark, path)
    val enc = indexEncoding(spark, path)
    val books = ivfPqStoredBooks(spark, path, expectEncoding = enc)
    val cells = collectVectors(ivfStoredCentroids(spark, path))
    val coded =
      if (enc == "residual") residualCoded(delta, cells, books)
      else pqCodesWith(delta, books)
        .withColumn("cell", top2Cells(cells).getField("b1i"))
        .drop("v")
    coded.withColumn("epoch", lit(epoch))
      // one file per appended cell directory (guide §6)
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/codes")
    bumpAppendedMeta(spark, path, delta, epoch)
    epoch
  }

  /** Incremental insertion into the at-rest graph-ANN index — the
    * published insertion-by-search recipe (the HNSW `add` on layer 0,
    * Malkov & Yashunin 2016 §4, applied to the NN-Descent layout):
    * each new node finds its `build_k` nearest neighbors by the SAME
    * greedy walk serving runs ([[graphTopKAtRest]] under the stored
    * entry tier, pinned to the committed epoch so in-flight writes are
    * invisible), then joins the graph as its forward adjacency plus
    * the reverse edges that make it REACHABLE (neighbor → new node;
    * without them the walk could never leave the base graph to find
    * an inserted node). Reverse insertion is append-only — the touched
    * base nodes' lists GROW by ≤1 edge per insertion that chose them
    * instead of being re-ranked in place, which only widens the walk's
    * candidate set (the fixed-beam frontier, not list length, bounds
    * per-round cost) and keeps the write path free of base-file
    * rewrites.
    *
    * Cost ∝ delta, never the corpus: one bounded walk per inserted
    * node (bucket-pruned frontier reads — the serve cost class,
    * chunked at the ≤4096 anchor rule) and ≤2·build_k appended edge
    * rows per node; the base graph is neither re-descended nor
    * re-written — the asymmetric cost [[graphPublishVersionWarm]]'s
    * full warm rebuild pays is exactly what this path avoids on pure
    * growth. Entry heads stay the build's (the static-entry-point
    * rule): inserted nodes are reached THROUGH their reverse edges,
    * not as entries.
    *
    * Same crash discipline as [[ivfAppendDelta]]: nodes/adj rows land
    * FIRST at epoch N+1, meta bumps LAST (count + window-XOR
    * fingerprint + frontier, incrementally); a crash leaves ghosts
    * invisible to committed-epoch walks and [[appendGuard]] refuses to
    * stack a second append onto them. [[ivfFreshen]] is layout-
    * agnostic, so the same append-if-grown convenience wraps this tier
    * (`ivfFreshen(corpus, path, rebuild, d => graphAppendDelta(d,
    * path))`).
    *
    * Returns the new epoch. Delta must carry (vec_id, embedding) with
    * vec_ids not already in the graph.
    */
  def graphAppendDelta(delta: DataFrame, path: String,
                       beam: Int = 20, rounds: Int = 4,
                       entryProbe: Int = 3): Long = {
    val spark = delta.sparkSession
    val epoch = appendGuard(spark, path, Seq("nodes", "adj"))
    val meta = spark.read.parquet(s"$path/meta")
      .select(col("build_k"), col("buckets")).head
    val (buildK, buckets) = (meta.getInt(0), meta.getInt(1))
    val centroids = graphStoredCentroids(spark, path)
    val d = delta.select(col("vec_id"), col("embedding")).persist()
    try {
      val n = d.count()
      require(n > 0, "empty delta")
      // ≤4096-query walk batches (the serve anchor rule), membership
      // by hash — a narrow map, no global window; 2× chunks targets
      // ~2048 expected per chunk so a uniform-hash hot spot cannot
      // breach the walk's require
      val nChunks = (2 * ((n + 4095) / 4096)).toInt
      val marked =
        if (nChunks <= 2) d.withColumn("__chunk", lit(0))
        else d.withColumn("__chunk",
          pmod(xxhash64(col("vec_id")), lit(nChunks.toLong)).cast("int"))
      val chunkIds = marked.select(col("__chunk")).distinct()
        .collect().map(_.getInt(0)).sorted
      val walks = chunkIds.map { i =>
        graphTopKAtRest(spark, path,
          marked.filter(col("__chunk") === i).drop("__chunk"),
          centroids, beam, rounds, buildK, entryProbe = entryProbe)
      }
      // pin the walk answers BEFORE appending to the files they read:
      // the returned plans still reference $path/adj and $path/nodes,
      // and a lazy evaluation during the append would race the writes
      val links = walks.reduce(_ unionByName _)
        .select(col("q_id"), col("vec_id"))
        .localCheckpoint(eager = true)
      val fwd = links.select(col("q_id").as("src"), col("vec_id").as("dst"))
      val rev = links.select(col("vec_id").as("src"), col("q_id").as("dst"))
      fwd.unionByName(rev)
        .withColumn("bucket",
          pmod(col("src"), lit(buckets.toLong)).cast("int"))
        .withColumn("epoch", lit(epoch))
        .repartition(col("bucket"))
        .write.mode("append").partitionBy("bucket").parquet(s"$path/adj")
      d.withColumn("bucket",
          pmod(col("vec_id"), lit(buckets.toLong)).cast("int"))
        .withColumn("epoch", lit(epoch))
        .repartition(col("bucket"))
        .write.mode("append").partitionBy("bucket").parquet(s"$path/nodes")
      bumpAppendedMeta(spark, path, d, epoch)
      epoch
    } finally { d.unpersist(); () }
  }

  /** Append-if-grown, rebuild-if-changed — the build-if-stale
    * convenience guard upgraded to take the incremental path when the
    * mismatch is pure GROWTH: the corpus gained rows strictly above
    * the stored `max_vec_id` frontier (append-only ingest, the usual
    * shape) while the fingerprint's probe window is unchanged. Then
    * the daily delta is [[ivfAppendDelta]]-ed instead of rebuilding
    * the whole index; any other mismatch (regenerated content, a
    * shrink, rows inserted below the frontier, a pre-frontier or
    * crashed layout) falls back to the full rebuild via `rebuild`.
    * Returns what happened: "fresh" | "appended" | "rebuilt".
    *
    * Detection is frontier arithmetic — two single-column predicate
    * counts and the fixed window XOR, run only AFTER the cheap
    * freshness probe already failed (i.e. on the path that was about
    * to pay a full rebuild anyway); like [[corpusFingerprint]], a
    * change entirely outside both the probe window and the counts is
    * structurally the versioned publish + drift-monitor path's job.
    */
  def ivfFreshen(corpus: DataFrame, path: String,
                 rebuild: DataFrame => Unit,
                 append: DataFrame => Unit): String = {
    val spark = corpus.sparkSession
    if (indexFresh(spark, path, corpus)) return "fresh"
    growthDelta(spark, corpus, path) match {
      case Some(delta) =>
        // the append guard's refusals (crashed append, pre-epoch
        // layout) are exactly the cases whose recovery IS a rebuild
        try { append(delta); "appended" }
        catch { case _: IllegalArgumentException =>
          rebuild(corpus); "rebuilt" }
      case None => rebuild(corpus); "rebuilt"
    }
  }

  /** The pure-growth delta of `corpus` vs the layout at `path`, when
    * the mismatch IS pure growth (see [[ivfFreshen]]); None otherwise.
    */
  private def growthDelta(spark: org.apache.spark.sql.SparkSession,
                          corpus: DataFrame,
                          path: String): Option[DataFrame] = {
    val centP = new org.apache.hadoop.fs.Path(s"$path/cent")
    if (!centP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(centP)) return None
    val meta = scala.util.Try(spark.read.parquet(s"$path/meta"))
      .toOption.getOrElse(return None)
    if (!Seq("sig", "epoch", "max_vec_id").forall(meta.columns.contains))
      return None
    val m = meta.select(col("built_n"), col("sig"), col("max_vec_id")).head
    val (bn, sig, frontier) = (m.getLong(0), m.getLong(1), m.getLong(2))
    val delta = corpus.filter(col("vec_id") > frontier)
    val dn = delta.count()
    if (dn == 0) return None
    // base portion unchanged as far as the probe window sees, and the
    // grown corpus is exactly base + delta by count
    val base = corpus.filter(col("vec_id") <= frontier)
    if (base.count() != bn || windowSig(base) != sig) return None
    Some(delta)
  }

  /** Preconditions of an append, returning the epoch to stamp:
    *  - the layout is complete (cent marker present) and epoch-aware
    *    (meta carries `epoch` — pre-append layouts rebuild once);
    *  - no ghost rows above meta's epoch (a crashed append that was
    *    never recovered; stacking another append would reuse the
    *    ghosts' epoch and make them visible as duplicates). The scan
    *    is footer-cheap when clean: `epoch > N` prunes every row
    *    group whose max-epoch statistic is ≤ N — metadata-only, like
    *    the fingerprint's count.
    */
  private def appendGuard(spark: org.apache.spark.sql.SparkSession,
                          path: String,
                          rowDirs: Seq[String] = Seq("codes")): Long = {
    val centP = new org.apache.hadoop.fs.Path(s"$path/cent")
    require(centP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(centP), s"no complete index at $path (cent missing)")
    // unreadable meta (the bumpAppendedMeta crash window) refuses with
    // the rebuild-class error — IllegalArgumentException is what
    // ivfFreshen's rebuild fallback catches
    val meta = scala.util.Try(spark.read.parquet(s"$path/meta"))
      .getOrElse(throw new IllegalArgumentException(
        s"layout at $path has no readable meta - a crashed meta " +
          "rewrite; rebuild before appending again"))
    require(meta.columns.contains("epoch"),
      s"layout at $path predates append support; rebuild it once")
    val cur = meta.select(col("epoch")).head.getLong(0)
    // the IVF tiers hold their rows in one `codes` relation; the graph
    // tier appends to BOTH `nodes` and `adj`, and a crash between the
    // two leaves ghosts in whichever landed first — so every row
    // relation of the layout is checked
    rowDirs.foreach { dir =>
      val ghosts = spark.read.parquet(s"$path/$dir")
        .filter(col("epoch") > lit(cur)).limit(1).count()
      require(ghosts == 0L,
        s"layout at $path holds $dir rows above epoch $cur - a " +
          "crashed append; rebuild before appending again")
    }
    cur + 1
  }

  /** Meta bump of a successful append: built_n += |delta|, sig ^=
    * windowSig(delta), epoch = new. Collect-then-rewrite (the row is
    * a single tuple) because parquet can't overwrite a path it is
    * lazily reading; every other meta column rides through unchanged,
    * so the bump is layout-agnostic across the IVF and IVFPQ tiers.
    */
  private def bumpAppendedMeta(spark: org.apache.spark.sql.SparkSession,
                               path: String, delta: DataFrame,
                               epoch: Long): Unit = {
    // one pass over the delta for all three bump statistics
    val (deltaN, deltaSig, deltaMax) = fingerprintStats(delta)
    val meta = spark.read.parquet(s"$path/meta")
    val bumped0 = meta
      .withColumn("built_n", col("built_n") + lit(deltaN))
      .withColumn("sig", col("sig").bitwiseXOR(lit(deltaSig)))
      .withColumn("epoch", lit(epoch))
    // pre-frontier layouts (no max_vec_id) stay appendable; they just
    // never take the freshen-by-growth shortcut
    val bumped =
      if (!meta.columns.contains("max_vec_id")) bumped0
      else bumped0.withColumn("max_vec_id",
        greatest(col("max_vec_id"), lit(deltaMax)))
    val rows = bumped.collect().toSeq
    // temp-then-rename, NOT overwrite-in-place: mode("overwrite") is
    // delete-then-write, and this rewrite runs while the cent
    // completeness marker is still present — a crash mid-overwrite
    // would leave a complete-LOOKING layout with a missing/corrupt
    // meta. Writing beside and renaming shrinks the unreadable window
    // to the delete+rename pair, and the readers treat an unreadable
    // meta under a present cent as stale ([[indexFresh]]) or refuse
    // with the rebuild-class error ([[appendGuard]]), so even that
    // window recovers through the ivfFreshen rebuild fallback.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/.meta.append.tmp")
    if (fs.exists(tmp)) { fs.delete(tmp, true); () }
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), bumped.schema)
      .write.parquet(tmp.toString)
    val metaP = new org.apache.hadoop.fs.Path(s"$path/meta")
    fs.delete(metaP, true)
    if (!fs.rename(tmp, metaP))
      throw new IllegalStateException(
        s"could not commit appended meta at $metaP")
  }

  /** Versioned self-contained IVF index with atomic swap — the
    * [[graphPublishVersion]] rotation applied to the IVF tier:
    * `$root/v=N` is a complete [[ivfWriteIndex]] layout, committed by
    * creating an empty `_PUBLISHED` marker LAST. The version helpers
    * are layout-agnostic ([[graphCurrentVersion]] /
    * [[graphVersionPath]] / [[graphRetainVersions]] inspect only
    * `v=N` directory names and `_PUBLISHED` markers, never layout
    * contents), so the graph and IVF tiers share one
    * rotation/retention story end to end: [[graft.streaming.IvfStream
    * .rebuildSignal]] recommends the rebuild at the new ⌈√n⌉ cell
    * count, a batch job publishes here, and
    * [[graft.streaming.IvfServeStream]] rotates to it at the next
    * micro-batch.
    */
  def ivfPublishVersion(corpus: DataFrame, centroids: DataFrame,
                        root: String): Int = {
    val spark = corpus.sparkSession
    val next = graphCurrentVersion(spark, root).map(_ + 1).getOrElse(0)
    val dir = graphVersionPath(root, next)
    ivfWriteIndex(corpus, centroids, dir)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_PUBLISHED"), true)
      .close()
    next
  }

  /** [[ivfPublishVersion]] on the IVFPQ tier: `$root/v=N` is a
    * complete [[ivfPqWriteIndex]] layout (codes + books + meta +
    * cent), committed by the `_PUBLISHED` marker created LAST. Shares
    * the layout-agnostic version helpers with the graph and IVF
    * tiers, so one rotation/retention story covers all three.
    */
  def ivfPqPublishVersion(corpus: DataFrame, cellCentroids: DataFrame,
                          books: Books, root: String): Int = {
    val spark = corpus.sparkSession
    val next = graphCurrentVersion(spark, root).map(_ + 1).getOrElse(0)
    val dir = graphVersionPath(root, next)
    ivfPqWriteIndex(corpus, cellCentroids, books, dir)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_PUBLISHED"), true)
      .close()
    next
  }

  /** Materialize the FAISS-style IVFPQ layout at rest: one directory
    * per IVF cell (partition pruning at probe time, the
    * [[ivfWriteAtRest]] rationale), and inside each cell the corpus
    * carries ONLY its PQ codes — `m` small ints per vector instead of
    * the full embedding, the ~16× shrink that lets the probed cells'
    * bytes be a rounding error at 100 TB. Cells and codes are both
    * the already-gated assignment rules ([[ivfTopKWith]]'s argmax,
    * [[pqCodesWith]]'s min-L2), computed ONCE at write time — a probe
    * never re-codes the corpus.
    */
  def ivfPqWriteAtRest(corpus: DataFrame, cellCentroids: DataFrame,
                       books: Books, path: String): Unit = {
    val cells = collectVectors(cellCentroids)
    pqCodesWith(spread(corpus), books)
      .withColumn("cell", top2Cells(cells).getField("b1i"))
      .drop("v")
      .withColumn("epoch", lit(0L))
      // one file per cell directory (the ivfWriteAtRest discipline)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
  }

  /** [[ivfPqTopKWith]] against an [[ivfPqWriteAtRest]] layout: probed
    * cells collect to a literal `isin` filter so the parquet scan
    * carries a PartitionFilter and lists only those cells'
    * directories; scoring is the same asymmetric-distance
    * [[pqApproxDot]] over the STORED codes. Results are bit-identical
    * to the scan-time [[ivfPqTopKWith]] — same cells, same codes,
    * same fixed-order dot — with the corpus neither re-assigned nor
    * re-coded per query batch.
    */
  def ivfPqTopKAtRest(spark: org.apache.spark.sql.SparkSession,
                      path: String, queries: DataFrame,
                      cellCentroids: DataFrame, books: Books,
                      nProbe: Int, k: Int,
                      maxEpoch: Long = EpochCommitted): DataFrame = {
    val epochCap = resolveMaxEpoch(spark, path, maxEpoch)
    val cells = collectVectors(cellCentroids)
    val sub = books.head.head._2.length
    val scores = cellScores(cells)
    val probes = queries
      .select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("v"))
      .withColumn("scores_arr", scores)
      .withColumn("cells", expr("transform(array_sort(scores_arr), x -> x.c_id)"))
      .select(col("q_id"), col("v").as("q_vec"),
        explode(slice(col("cells"), 1, nProbe)).as("cell"))
      // same pinning rationale as ivfTopKAtRest: two consumers
      .localCheckpoint(eager = false)
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val coded = epochBound(spark.read.parquet(path), epochCap)
      .filter(col("cell").isin(probedCells.map(Integer.valueOf): _*))
    val scored = coded.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        pqApproxDot(books, sub).as("approx_dot"))
    val wk = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_dot").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("approx_dot"), col("rn"))
  }

  /** IVF-PQ: the two scale mechanisms composed the way a production
    * vector index runs them (the FAISS IVFPQ layout) — the corpus is
    * bucketed into IVF cells so a query touches `nProbe` cells instead
    * of everything, and within the probed cells every candidate is
    * scored from its PQ CODES (m small ints), not its full vector.
    * At 100 TB: corpus partitioned by cell at rest, codes ~16× smaller
    * than vectors riding the probe join, queries full-precision.
    *
    * Both stages are the already-gated primitives unchanged —
    * [[ivfTopKWith]]'s cell assignment/probing and [[pqCodes]]'s
    * codebook scoring — so the composition stays bit-reproducible.
    */
  def ivfPqTopKWith(corpus: DataFrame, queries: DataFrame,
                    cellCentroids: DataFrame, books: Books,
                    nProbe: Int, k: Int): DataFrame = {
    val cells = collectVectors(cellCentroids)
    val sub = books.head.head._2.length
    val scores = cellScores(cells)
    // corpus side: cell + PQ codes in ONE projection pass, full vector
    // dropped before the join (the point of the compression)
    val coded = pqCodesWith(corpus, books)
      .withColumn("cell", top2Cells(cells).getField("b1i"))
      .drop("v")
    val probes = queries
      .select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("q_vec"))
      .withColumn("v", col("q_vec"))
      .withColumn("scores_arr", scores)
      .withColumn("cells", expr("transform(array_sort(scores_arr), x -> x.c_id)"))
      .select(col("q_id"), col("q_vec"),
        explode(slice(col("cells"), 1, nProbe)).as("cell"))
    val scored = coded.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), pqApproxDot(books, sub).as("approx_dot"))
    val wk = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_dot").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("approx_dot"), col("rn"))
  }

  /** [[ivfPqTopKWith]] over the untrained [[pqInitBooks]] seed. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
                cellCentroids: DataFrame, pqCentroids: DataFrame,
                m: Int, nProbe: Int, k: Int): DataFrame =
    ivfPqTopKWith(corpus, queries, cellCentroids,
      pqInitBooks(pqCentroids, m), nProbe, k)

  /** The corpus re-expressed as RESIDUALS under the coarse quantizer
    * (Jégou et al. 2011 §III: FAISS's IVFPQ quantizes x − c(x), not x
    * itself — residuals are smaller in magnitude than raw vectors, so
    * the same m×k code budget spends itself on the part of the vector
    * the cell assignment did NOT already explain): (vec_id,
    * embedding = v − centroid[cell], cell), cell by the shared
    * [[cellScores]] argmax rule. One map-side projection; the
    * subtraction is element-wise IEEE, identical in the oracle's list
    * comprehension. Requires dense 0..k−1 cell ids (every declared
    * centroid set is), so the centroid lookup is a literal
    * array-index, not a join.
    */
  private[graft] def residualsWith(corpus: DataFrame,
      cent: Seq[(Int, Array[Double])]): DataFrame = {
    require(cent.map(_._1) == cent.indices,
      "residual coding needs dense 0..k-1 cell ids")
    val centArr = array(cent.map { case (_, cv) => lit(cv) }: _*)
    corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("cell", top2Cells(cent).getField("b1i"))
      .select(col("vec_id"),
        zip_with(col("v"), element_at(centArr, col("cell") + 1),
          (a, b) => a - b).as("embedding"),
        col("cell"))
  }

  /** [[residualsWith]] with DataFrame centroids — the public face. */
  def residuals(corpus: DataFrame, cellCentroids: DataFrame): DataFrame =
    residualsWith(corpus, collectVectors(cellCentroids))

  /** PQ codebooks trained on the RESIDUALS (the FAISS IVFPQ training
    * recipe): seed = the `seedK` residuals of vec_ids
    * [|cells|, |cells| + seedK), renumbered to dense 0..seedK−1 codes,
    * then [[pqTrainBooks]]'s per-subspace Lloyd unchanged. The seed
    * window starts BEYOND the centroid id range on purpose: under the
    * declared raw-seed quantizer (centroids = the first ⌈√n⌉ corpus
    * rows) the first rows' residuals are ≈ 0 — seeding from them
    * degenerates every codebook to near-zero entries and recall
    * collapses (measured 0.53 → 0.27 before this rule).
    */
  def pqTrainBooksResidual(corpus: DataFrame, cellCentroids: DataFrame,
                           seedK: Int, m: Int, iters: Int): Books = {
    val cells = collectVectors(cellCentroids)
    val rc = residualsWith(corpus, cells)
      // two consumers (seed + training passes) of a projection that
      // re-sorts |cells| structs per row — pin it
      .localCheckpoint(eager = false)
    val lo = cells.length.toLong
    val seed = rc
      .filter(col("vec_id") >= lo && col("vec_id") < lo + seedK)
      .select((col("vec_id") - lo).as("vec_id"), col("embedding"))
    pqTrainBooks(rc, seed, m, iters)
  }

  /** (vec_id, cell, code_0…code_{m−1}) — the coded corpus both
    * residual paths share: cell by the argmax rule, codes = min-L2
    * assignment of the RESIDUAL's sub-vectors under `books`.
    */
  private def residualCoded(corpus: DataFrame,
      cent: Seq[(Int, Array[Double])], books: Books): DataFrame = {
    val m = books.length
    val sub = books.head.head._2.length
    residualsWith(corpus, cent)
      .select(col("vec_id"), col("cell"),
        asDouble(col("embedding")).as("v"))
      .select(col("vec_id") +: col("cell") +:
        (0 until m).map(j =>
          slice(col("v"), j * sub + 1, sub).as(s"sv_$j")): _*)
      .select(col("vec_id") +: col("cell") +:
        (0 until m).map(j => assignStruct(col(s"sv_$j"), books(j))
          .getField("c_id").as(s"code_$j")): _*)
  }

  /** Probe rows carrying the EXACT query·centroid dot (`cd`) of each
    * probed cell — residual scoring's correction term: the true dot
    * q·x = q·c(x) + q·r decomposes into the exact coarse part plus
    * the PQ-approximated residual part, so the asymmetric score is
    * cd + Σ_j dot(q_sub_j, book_j[code_j]). cd = −negcd of the sorted
    * probe struct (IEEE negation is exact).
    */
  private def probesWithCd(queries: DataFrame,
      cent: Seq[(Int, Array[Double])], nProbe: Int): DataFrame =
    queries
      .select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("v"))
      .withColumn("scores_arr", cellScores(cent))
      .withColumn("probe",
        explode(slice(array_sort(col("scores_arr")), 1, nProbe)))
      .select(col("q_id"), col("v").as("q_vec"),
        col("probe.c_id").as("cell"), (-col("probe.negcd")).as("cd"))

  /** IVFPQ with RESIDUAL encoding — [[ivfPqTopKWith]] under the FAISS
    * quantize-the-residual recipe: codes approximate x − c(x), and the
    * asymmetric score adds the exact q·c(x) back
    * ([[probesWithCd]]). Same plan shape as the raw path (map-side
    * coding, query-side-bounded probe join, windowed top-k). At equal
    * m/probe the r15 PQ sweep measured recall@10 0.37 against the raw
    * path's 0.49–0.53 on this corpus (COVERAGE.md, "Residual-encoding
    * IVFPQ").
    */
  def ivfPqResidualTopKWith(corpus: DataFrame, queries: DataFrame,
                            cellCentroids: DataFrame, books: Books,
                            nProbe: Int, k: Int): DataFrame = {
    val cells = collectVectors(cellCentroids)
    val sub = books.head.head._2.length
    val coded = residualCoded(corpus, cells, books)
    val probes = probesWithCd(queries, cells, nProbe)
    val scored = coded.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (col("cd") + pqApproxDot(books, sub)).as("approx_dot"))
    val wk = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_dot").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("approx_dot"), col("rn"))
  }

  /** [[ivfPqWriteAtRest]] under residual encoding: one directory per
    * cell, rows carry only the m residual codes.
    */
  def ivfPqResidualWriteAtRest(corpus: DataFrame, cellCentroids: DataFrame,
                               books: Books, path: String): Unit =
    residualCoded(spread(corpus), collectVectors(cellCentroids), books)
      .withColumn("epoch", lit(0L))
      // one file per cell directory (the ivfWriteAtRest discipline)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Self-contained residual-IVFPQ index — [[ivfPqWriteIndex]]'s
    * layout (codes + books + meta + cent-written-last) with
    * `encoding = "residual"` stamped in meta so serving can refuse to
    * score residual codes as raw ones (they are meaningless under the
    * wrong decomposition, the same class of mistake as foreign
    * codebooks).
    */
  def ivfPqResidualWriteIndex(corpus: DataFrame, cellCentroids: DataFrame,
                              books: Books, path: String): Unit = {
    val bookRows = books.iterator.map(_.size).sum
    require(bookRows <= 4096,
      s"codebook set too large to serve: $bookRows rows (m × codes " +
        "per book must stay ≤ 4096, the ivfPqStoredBooks read bound)")
    invalidateMarker(corpus, path)
    val cent = collectVectors(cellCentroids)
    ivfPqResidualWriteAtRest(corpus, cellCentroids, books, s"$path/codes")
    import corpus.sparkSession.implicits._
    books.zipWithIndex
      .flatMap { case (bk, j) => bk.map { case (id, cv) => (j, id, cv) } }
      .toDF("m", "c_id", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/books")
    val (builtN, sig, maxId) = fingerprintStats(corpus)
    Seq((builtN, cent.length, books.length, sig, "residual", 0L,
        maxId))
      .toDF("built_n", "cells", "m", "sig", "encoding", "epoch",
        "max_vec_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    cent.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/cent")
  }

  /** [[ivfPqTopKAtRest]] under residual encoding: partition-pruned
    * probe over the stored residual codes, score = exact coarse dot +
    * decoded-residual dot. Bit-identical to
    * [[ivfPqResidualTopKWith]] — same cells, same codes, same
    * fixed-order arithmetic.
    */
  def ivfPqResidualTopKAtRest(spark: org.apache.spark.sql.SparkSession,
                              path: String, queries: DataFrame,
                              cellCentroids: DataFrame, books: Books,
                              nProbe: Int, k: Int,
                              maxEpoch: Long = EpochCommitted): DataFrame = {
    val epochCap = resolveMaxEpoch(spark, path, maxEpoch)
    val cells = collectVectors(cellCentroids)
    val sub = books.head.head._2.length
    val probes = probesWithCd(queries, cells, nProbe)
      .localCheckpoint(eager = false)
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val coded = epochBound(spark.read.parquet(path), epochCap)
      .filter(col("cell").isin(probedCells.map(Integer.valueOf): _*))
    val scored = coded.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (col("cd") + pqApproxDot(books, sub)).as("approx_dot"))
    val wk = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_dot").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("approx_dot"), col("rn"))
  }

  /** Same-bucket near-dup pairs: [[nearDupPairs]] restricted to
    * same-sign-bucket candidates, so a 100 TB corpus never
    * cross-products. Precision is exact (every candidate is
    * cosine-verified), but recall MEASURES at 6–8% at cos ≥ 0.35
    * (`sim_neardup_recall_lsh`) — near-threshold pairs almost never
    * agree on all sign bits. This is the cheap low-recall tier; the
    * scale path with usable recall at low thresholds is
    * [[nearDupCells]] (soft cell co-assignment, 73–74% measured).
    *
    * Shape notes: the bucket pipeline (nBits anchor dot products per
    * vector) is evaluated ONCE — candidate pairs come from per-bucket
    * id-list expansion, not a self-join that would recompute the
    * bucketing for each side — and buckets are rank-capped at the
    * `maxBucket` smallest ids exactly like
    * [[graft.operators.Dedup.minhashLsh]] (a mass-near-dup hot bucket
    * stays bounded; the cap is mirrored in the DuckDB oracle). The
    * verify join rejoins the raw embeddings by id, which is a plain
    * column-pruned scan.
    */
  def nearDupLsh(corpus: DataFrame, anchors: DataFrame, nBits: Int,
                 minCos: Double, maxBucket: Int = Dedup.MaxBucket): DataFrame = {
    val buckets = signBuckets(corpus, anchors, nBits)
      .select(col("vec_id"), col("bucket"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("bucket")).orderBy(col("vec_id"))))
      .filter(col("__rn") <= maxBucket)
      .groupBy(col("bucket"))
      .agg(collect_list(col("vec_id")).as("ids"))
      .filter(size(col("ids")) > 1)
    // one bucket per vector => each unordered pair appears exactly once
    val cands = buckets.select(explode(expr(
        """filter(flatten(transform(ids, a -> transform(ids, b ->
          |  struct(a as id_a, b as id_b)))), p -> p.id_a < p.id_b)"""
          .stripMargin)).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    cands
      .join(c.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), "id_a")
      .join(c.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Cell-co-assignment near-dup pairs — the scale path for
    * LOW-threshold embedding near-dup, where sign-LSH candidates
    * collapse (`sim_neardup_recall_lsh` measures the bucket path at
    * 6–8% recall at cos ≥ 0.35: the flip probability per anchor is
    * θ/π ≈ 0.39, so near-threshold pairs rarely share all sign
    * bits). Every vector is SOFT-assigned to its top-`nProbe` cells
    * (the [[ivfTopK]] probe rule applied to the corpus side);
    * candidates are pairs sharing ANY cell, verified by exact
    * cosine. Boundary pairs — the failure mode of hard assignment —
    * are caught by the second cell, the same reason IVF probes
    * multiple cells. Measured: recall 0.73–0.74 at nProbe 2 with 8
    * data-derived cells, vs 0.28–0.33 hard-assigned.
    *
    * Scale shape: assignment is the map-side argmax projection (the
    * corpus never shuffles to be labeled), ×nProbe fan-out, cells
    * rank-capped at `maxCell`; the self-join shuffles on the cell
    * id and the verify runs once per distinct pair. At 100 TB cells
    * come from [[kmeansCentroids]] at k ~ √n and the per-cell cap
    * bounds pair fan-out exactly like the LSH tier's bucket caps.
    */
  def nearDupCells(corpus: DataFrame, centroids: DataFrame,
                   nProbe: Int, minCos: Double,
                   maxCell: Int = 256): DataFrame = {
    val cent = collectVectors(centroids)
    val scores = cellScores(cent)
    val assigned = corpus
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("scores_arr", scores)
      .withColumn("cell", explode(expr(
        s"slice(transform(array_sort(scores_arr), x -> x.c_id), 1, $nProbe)")))
      .select(col("vec_id"), col("cell"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("cell")).orderBy(col("vec_id"))))
      .filter(col("__rn") <= maxCell)
      .select(col("vec_id"), col("cell"))
    val cands = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    cands
      .join(c.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), "id_a")
      .join(c.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Per-pair recall table for an embedding near-dup path: the exact
    * [[nearDupPairs]] truth LEFT JOIN `path` — the same audit shape
    * as the dedup-tier recall family. Inherits [[nearDupPairs]]'s
    * all-pairs cost; test-tier by the same argument.
    */
  def nearDupRecallAgainst(corpus: DataFrame, path: DataFrame,
                           minCos: Double): DataFrame = {
    val truth = nearDupPairs(corpus, minCos)
    val found = path.select(col("id_a"), col("id_b"),
      lit(true).as("found_flag"))
    truth.join(found, Seq("id_a", "id_b"), "left_outer")
      .select(col("id_a"), col("id_b"), col("cos_sim"),
        coalesce(col("found_flag"), lit(false)).as("found"))
  }

  /** SemDedup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): semantic
    * deduplication scoped to embedding clusters. Every corpus vector
    * is assigned to its best centroid cell (the same map-side argmax
    * projection as [[ivfTopK]] — the corpus is never shuffled to be
    * labeled); within each cell, a vector whose cosine to a LOWER-id
    * cellmate reaches `minCos` is a semantic duplicate (the paper's
    * keep-one policy with a deterministic lowest-id representative).
    *
    * Output: (vec_id, cell, n_dups = count of lower-id near-dups in
    * the cell, is_dup).
    *
    * Scale shape: clustering bounds the quadratic term — pairs form
    * per cell via an equi-join on the cell id, never across cells, so
    * cost is Σ|cell|², controlled by k (the paper runs 50k clusters
    * over 5B embeddings for exactly this reason). Assignment is
    * recomputed per join side rather than checkpointed — k dot
    * products per row of pure projection, cheaper at scale than
    * materializing a corpus-sized intermediate. At 100 TB, partition
    * the corpus BY CELL at rest (as [[ivfTopK]] notes) and the pair
    * join collapses to a co-partitioned self-join with no exchange.
    */
  def semDedup(corpus: DataFrame, centroids: DataFrame,
               minCos: Double): DataFrame = {
    val cent = collectVectors(centroids)
    def assigned = {
      corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("cell", top2Cells(cent).getField("b1i"))
        .withColumn("nrm", norm(col("v")))
    }
    val a = assigned.select(col("cell"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cell"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dupCounts = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter((dot(col("va"), col("vb")) / (col("na") * col("nb"))) >= minCos)
      .groupBy(col("id_b").as("vec_id"))
      .agg(count(lit(1)).as("n_dups"))
    // SHUFFLE_HASH: without the hint the planner sort-merge-joins,
    // paying a full sort of the corpus side; hash-building on the
    // (smaller) dup-count side skips both sorts at any scale
    assigned.select(col("vec_id"), col("cell"))
      .join(dupCounts.hint("shuffle_hash"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (coalesce(col("n_dups"), lit(0L)) > 0L).as("is_dup"))
  }

  /** Spherical k-means (Lloyd) refinement of the IVF centroids:
    * initialize from the first `k` vectors, then iterate
    * assign-to-max-cosine / recompute-normalized-mean. Each iteration
    * is ONE distributed pass: cell assignment is a map-side projection
    * over inlined centroid literals (corpus never shuffles to be
    * labeled), and the per-cell mean reduces through a codegen'd
    * (cell, dim) hash aggregate — k×dim rows cross the shuffle, not
    * vectors. Driver state is k centroids per iteration (bounded by
    * the same 4096 `require` as [[collectVectors]]).
    *
    * Empty cells keep their previous centroid. The spherical objective
    * (mean max-cosine) is monotonically non-decreasing — spec-checked;
    * the result feeds [[ivfTopKWith]] unchanged.
    */
  def kmeansCentroids(corpus: DataFrame, k: Int,
                      iters: Int): Seq[(Int, Array[Double])] = {
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val init = collectVectors(corpus.filter(col("vec_id") < k))
      .map { case (id, v) => (id, normalize(v)) }
    (0 until iters).foldLeft(init) { (cent, _) =>
      // assignment by the shared top-2 fold's first slot — the same
      // (dot desc, c_id asc) rule as cellScores+array_sort, without
      // materializing and sorting a |cells|-struct array per row
      // (at autoCells-scale cell counts the per-row sort dominates)
      val sums = corpus
        .select(asDouble(col("embedding")).as("v"))
        .withColumn("cell", top2Cells(cent).getField("b1i"))
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(col("x")).as("sx"))
        .collect()
      val byCell = sums.groupBy(_.getAs[Int]("cell"))
      cent.map { case (id, old) =>
        byCell.get(id) match {
          case Some(rows) =>
            val v = new Array[Double](old.length)
            rows.foreach(r => v(r.getAs[Int]("dim")) = r.getAs[Double]("sx"))
            (id, normalize(v))
          case None => (id, old)
        }
      }
    }
  }

  /** [[kmeansCentroids]] as a (vec_id, embedding) relation — the
    * Lloyd-refined entry tier in the shape every index builder/server
    * ([[knnGraph]], [[graphWriteAtRest]], [[graphTopKAtRest]],
    * [[ivfWriteAtRest]], [[ivfTopKWith]]-style callers) takes its
    * centroids in. With `iters = 0` this is exactly the normalized
    * first-`k` seed, so the declared queries' Lloyd knob prices
    * refinement against the raw-seed baseline on one axis.
    */
  def lloydCentroidDf(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    kmeansCentroids(corpus, k, iters).toDF("vec_id", "embedding")
  }

  /** Mean max-cosine of the corpus against a centroid set — the
    * spherical k-means objective (for convergence checks).
    */
  def kmeansObjective(corpus: DataFrame,
                      cent: Seq[(Int, Array[Double])]): Double = {
    val best = greatest(cent.map { case (_, cv) =>
      dot(col("v"), lit(cv)) / norm(col("v"))
    }: _*)
    corpus.select(asDouble(col("embedding")).as("v"))
      .select(avg(best).as("obj")).head().getDouble(0)
  }

  /** Greedy k-center / farthest-point traversal (Gonzalez 1985) over
    * the embedding corpus in cosine distance — the coreset and
    * diversity selector a training-data pipeline uses to pick m
    * maximally-spread representatives (a 2-approximation of the
    * optimal k-center cover). Seed = the smallest vec_id; each later
    * round picks the point FARTHEST from every selected center
    * (ties to the smallest vec_id), and the distance it was picked at
    * is the coverage radius of the previous center set — the output
    * sequence is the whole selection diagnostic.
    *
    * Float discipline: min-distance is recomputed per round as
    * `1.0 − greatest(cos(x, c₁) … cos(x, cₖ))`; since min is
    * associative and `1 − s` is a monotone rounding, this equals the
    * oracle's incremental `least(prev, 1 − cos)` chain bit-for-bit,
    * so the argmax (and every tie) agrees across engines.
    *
    * Scale shape: m driver rounds, each ONE corpus scan against ≤ m
    * literal center vectors (codegen-pure projection + a single-row
    * max aggregate); the corpus never shuffles, nothing corpus-sized
    * is collected, and the driver holds m·dim doubles.
    */
  def kcenterSelect(corpus: DataFrame, m: Int): DataFrame = {
    require(m >= 1 && m <= 64, "m is a driver-round count (literal centers)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col("vec_id"),
      asDouble(col("embedding")).as("v"))
    val seedRow = c.orderBy(col("vec_id")).limit(1).head()
    var picked = List[(Long, Array[Double], Option[Double])](
      (seedRow.getLong(0), seedRow.getSeq[Double](1).toArray, None))
    while (picked.length < m) {
      val mind = kcMindCol(picked.map(_._2))
      val best = c
        .filter(!col("vec_id").isin(picked.map(_._1): _*))
        .select(max(struct(mind.as("mind"), (-col("vec_id")).as("nid"),
          col("v").as("v"))).as("s"))
        .head().getStruct(0)
      picked = picked :+ ((-best.getLong(1),
        best.getSeq[Double](2).toArray, Some(best.getDouble(0))))
    }
    picked.zipWithIndex.map { case ((id, _, d), i) =>
      ((i + 1).toLong, id, d)
    }.toDF("sel_round", "vec_id", "dist")
  }

  /** cos(v, literal center) — THE scoring fold shared verbatim by the
    * scan-time and at-rest selection variants (and mirrored by the
    * oracles), so the two paths cannot drift a bit.
    */
  private def cosToLit(cv: Array[Double]): Column =
    dot(col("v"), lit(cv)) / (norm(col("v")) * norm(lit(cv)))

  /** k-center round score: 1 − max cos against the picked centers. */
  private def kcMindCol(centers: Seq[Array[Double]]): Column = {
    val sims = centers.map(cosToLit)
    lit(1.0) - (if (sims.length == 1) sims.head else greatest(sims: _*))
  }

  /** MMR round score: λ·cos(q, x) − (1−λ)·max cos(x, picked). */
  private def mmrScoreCol(qv: Array[Double], picked: Seq[Array[Double]],
                          lambda: Double): Column = {
    val rel = cosToLit(qv)
    val red =
      if (picked.isEmpty) lit(0.0)
      else if (picked.length == 1) cosToLit(picked.head)
      else greatest(picked.map(cosToLit): _*)
    lit(lambda) * rel - lit(1.0 - lambda) * red
  }

  private def unitize(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v.map(_ => 0.0) else v.map(_ / n)
  }

  private def eucl(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Per-cell pruning statistics over an [[ivfWriteAtRest]] layout:
    * member count and RADIUS — the max unit-sphere euclidean distance
    * from a member to its (normalized) cell centroid, r_c =
    * max_x ‖x̂ − ĉ̂‖ = max_x √(2 − 2·cos(x, c)). One scan at write
    * time, stored as a SIBLING of the layout (`<path>-cellstats` —
    * inside it the nested dir would corrupt the layout's partition
    * discovery); the tiny (|cells|-row) output is what lets the at-rest
    * selection operators prune whole cell directories EXACTLY (the
    * ball-tree / Hjaltason–Samet metric bound applied to the IVF
    * directory layout).
    */
  def ivfWriteCellStats(spark: org.apache.spark.sql.SparkSession,
                        path: String, centroids: DataFrame): Unit = {
    import spark.implicits._
    val cent = collectVectors(centroids)
    val centDf = broadcast(cent.map { case (id, v) => (id, v.toSeq) }
      .toDF("cell", "cv"))
    spark.read.parquet(path)
      .select(col("cell"), asDouble(col("embedding")).as("v"))
      .join(centDf, Seq("cell"))
      .select(col("cell"),
        sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) *
          (dot(col("v"), col("cv")) / (norm(col("v")) * norm(col("cv"))))))
          .as("d"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("members"), max(col("d")).as("radius"))
      .write.mode("overwrite").parquet(s"$path-cellstats")
  }

  /** A cell-pruned read of an [[ivfWriteAtRest]] layout (the literal
    * isin filter rides the parquet scan as a PartitionFilter). Split
    * out so the selection operators' per-round scan shape is pinnable.
    */
  private[graft] def ivfCellsScan(spark: org.apache.spark.sql.SparkSession,
                                  path: String, cells: Seq[Int]): DataFrame =
    spark.read.parquet(path)
      .filter(col("cell").isin(cells.sorted.map(Integer.valueOf): _*))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))

  /** [[kcenterSelect]] over an [[ivfWriteAtRest]] +
    * [[ivfWriteCellStats]] layout, with EXACT cell pruning — results
    * are bit-identical to the scan-time operator (the same
    * [[kcMindCol]] fold, the same (mind, −id) argmax; the oracle that
    * gates one gates both).
    *
    * Why pruning can be exact at all: on the unit sphere the cosine
    * distance is d²/2 for the euclidean d, and the triangle
    * inequality gives every member x of a cell with centroid ĉ and
    * radius r:  mind(x) = min_s ‖x̂−ŝ‖²/2 ≤ (min_s ‖ĉ̂−ŝ‖ + r)²/2
    * =: UB(cell). Each round scans the max-UB cell for a certified
    * candidate value v, then only the cells with UB + ε ≥ v — every
    * cell that could hold the argmax OR any of its ties (members of a
    * pruned cell are strictly below v). ε = 1e-9 absorbs driver-side
    * bound arithmetic; bounds only ever decide PRUNING, never values.
    *
    * When the corpus has cluster structure (real embedding corpora at
    * 100 TB do), later rounds prune most cells — the argmax migrates
    * to the far clusters and covered cells' UB collapses. On
    * structureless data the bounds stay loose and every round
    * degrades to ~1.1 full scans (the honest worst case; `onRound`
    * reports the probed/total cells per round for measurement).
    */
  def kcenterSelectAtRest(spark: org.apache.spark.sql.SparkSession,
                          path: String, centroids: DataFrame, m: Int,
                          onRound: (Int, Int, Int) => Unit =
                            (_, _, _) => ()): DataFrame = {
    require(m >= 1 && m <= 64, "m is a driver-round count (literal centers)")
    import spark.implicits._
    val cent = collectVectors(centroids)
    val centHat = cent.map { case (id, v) => id -> unitize(v) }.toMap
    val stats = spark.read.parquet(s"$path-cellstats")
      .select(col("cell"), col("radius"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    val allCells = stats.map(_._1).sorted.toSeq
    val eps = 1e-9
    def scan(cells: Seq[Int], excluded: Seq[Long]) = {
      val base = ivfCellsScan(spark, path, cells)
      if (excluded.isEmpty) base
      else base.filter(!col("vec_id").isin(
        excluded.map(java.lang.Long.valueOf): _*))
    }
    val seed = scan(allCells, Nil)
      .select(min(struct(col("vec_id"), col("v"))).as("s"))
      .head().getStruct(0)
    var picked = List[(Long, Array[Double], Option[Double])](
      (seed.getLong(0), seed.getSeq[Double](1).toArray, None))
    while (picked.length < m) {
      val centersHat = picked.map(p => unitize(p._2))
      val ubs = stats.map { case (cId, r) =>
        val minD = centersHat.map(s => eucl(centHat(cId), s)).min
        cId -> (minD + r) * (minD + r) / 2.0
      }.toMap
      val mind = kcMindCol(picked.map(_._2))
      def argmax(cells: Seq[Int]) = scan(cells, picked.map(_._1))
        .select(max(struct(mind.as("mind"), (-col("vec_id")).as("nid"),
          col("v").as("v"))).as("s"))
        .head()
      val topCell = allCells.maxBy(c => (ubs(c), -c))
      val cand = argmax(Seq(topCell))
      val (probed, best) =
        if (cand.isNullAt(0)) (allCells, argmax(allCells))
        else {
          val v = cand.getStruct(0).getDouble(0)
          val surv = allCells.filter(c => ubs(c) + eps >= v)
          (surv, argmax(surv))
        }
      onRound(picked.length, probed.length, allCells.length)
      val b = best.getStruct(0)
      picked = picked :+ ((-b.getLong(1), b.getSeq[Double](2).toArray,
        Some(b.getDouble(0))))
    }
    picked.zipWithIndex.map { case ((id, _, d), i) =>
      ((i + 1).toLong, id, d)
    }.toDF("sel_round", "vec_id", "dist")
  }

  /** [[mmrSelect]] over the at-rest IVF layout with the same exact
    * cell-pruning idea as [[kcenterSelectAtRest]], adapted to the MMR
    * score: for every member of a cell (ĉ, r),
    * score ≤ λ·(1 − max(0, ‖q̂−ĉ̂‖ − r)²/2)              (relevance UB)
    *        − (1−λ)·(1 − (min_s ‖ĉ̂−ŝ‖ + r)²/2)         (redundancy LB)
    * — both from the sphere's triangle inequality, so a cell whose
    * bound cannot reach the certified candidate provably holds
    * neither the argmax nor any tie. λ ∈ [0, 1] is required (the
    * bound composition needs both weights non-negative); results are
    * bit-identical to [[mmrSelect]] (same [[mmrScoreCol]] fold, same
    * tie-break; one oracle gates both).
    */
  def mmrSelectAtRest(spark: org.apache.spark.sql.SparkSession,
                      path: String, query: DataFrame,
                      centroids: DataFrame, m: Int, lambda: Double,
                      onRound: (Int, Int, Int) => Unit =
                        (_, _, _) => ()): DataFrame = {
    require(m >= 1 && m <= 64, "m is a driver-round count")
    require(lambda >= 0.0 && lambda <= 1.0,
      "cell pruning bounds need lambda in [0, 1]")
    import spark.implicits._
    val qRows = query
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .limit(2).collect()
    require(qRows.length == 1,
      s"mmrSelectAtRest expects exactly one query row, got " +
        (if (qRows.isEmpty) "an empty query DataFrame" else "more than one"))
    val qv = qRows.head.getSeq[Double](1).toArray
    val qHat = unitize(qv)
    val cent = collectVectors(centroids)
    val centHat = cent.map { case (id, v) => id -> unitize(v) }.toMap
    val stats = spark.read.parquet(s"$path-cellstats")
      .select(col("cell"), col("radius"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    val allCells = stats.map(_._1).sorted.toSeq
    val eps = 1e-9
    def scan(cells: Seq[Int], excluded: Seq[Long]) = {
      val base = ivfCellsScan(spark, path, cells)
      if (excluded.isEmpty) base
      else base.filter(!col("vec_id").isin(
        excluded.map(java.lang.Long.valueOf): _*))
    }
    var picked = List.empty[(Long, Array[Double], Double)]
    while (picked.length < m) {
      val centersHat = picked.map(p => unitize(p._2))
      val ubs = stats.map { case (cId, r) =>
        val ch = centHat(cId)
        val dq = math.max(0.0, eucl(ch, qHat) - r)
        val relUb = 1.0 - dq * dq / 2.0
        val redLb =
          if (centersHat.isEmpty) 0.0
          else {
            val d = centersHat.map(s => eucl(ch, s)).min + r
            1.0 - d * d / 2.0
          }
        cId -> (lambda * relUb - (1.0 - lambda) * redLb)
      }.toMap
      val score = mmrScoreCol(qv, picked.map(_._2), lambda)
      def argmax(cells: Seq[Int]) = scan(cells, picked.map(_._1))
        .select(max(struct(score.as("s"), (-col("vec_id")).as("nid"),
          col("v").as("v"))).as("b"))
        .head()
      val topCell = allCells.maxBy(c => (ubs(c), -c))
      val cand = argmax(Seq(topCell))
      val (probed, best) =
        if (cand.isNullAt(0)) (allCells, argmax(allCells))
        else {
          val v = cand.getStruct(0).getDouble(0)
          val surv = allCells.filter(c => ubs(c) + eps >= v)
          (surv, argmax(surv))
        }
      onRound(picked.length + 1, probed.length, allCells.length)
      val b = best.getStruct(0)
      picked = picked :+ ((-b.getLong(1),
        b.getSeq[Double](2).toArray, b.getDouble(0)))
    }
    picked.zipWithIndex.map { case ((id, _, s), i) =>
      ((i + 1).toLong, id, s)
    }.toDF("sel_round", "vec_id", "mmr_score")
  }

  /** Approximate top-k: score only same-bucket (query, corpus) pairs. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, anchors: DataFrame,
              nBits: Int, k: Int): DataFrame = {
    val cb = signBuckets(corpus, anchors, nBits)
      .withColumn("c_nrm", norm(col("v")))
    val qb = signBuckets(queries, anchors, nBits)
      .select(col("vec_id").as("q_id"), col("v").as("q_vec"), col("bucket"))
      .withColumn("q_nrm", norm(col("q_vec")))
    val scored = cb.join(qb, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
              (dot(col("q_vec"), col("v")) / (col("q_nrm") * col("c_nrm")))
                .as("cos_sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("cos_sim"), col("rn"))
  }

  /** Multi-probe sign-LSH top-k (the perturbation idea of Lv et al.,
    * "Multi-Probe LSH", VLDB'07, applied to sign buckets): the query
    * probes EVERY bucket within Hamming `probeHamming` of its own —
    * for 6 bits at radius 2 that is 22 of the 64 buckets — instead of
    * requiring all sign bits to agree. Rationale: a true neighbor's
    * dot products against the anchors are close to the query's, so
    * when they disagree it is on a few near-zero margins; exact
    * bucket equality ([[lshTopK]]) therefore collapses on real data
    * (`sim_lsh_recall` measures recall@10 of 0.01–0.09 on the test
    * corpus), while near-bucket probing recovers most of it for a
    * bounded constant factor.
    *
    * Scale shape: the corpus is bucketed map-side ONCE and never
    * explodes; only the (tiny, ≤4096 by the anchor rule) query side
    * fans out ×|masks| before the same bucket equi-join. Each corpus
    * vector lives in exactly one bucket, so (q, vec) candidates are
    * unique by construction — no dedup shuffle.
    */
  def lshTopKMultiProbe(corpus: DataFrame, queries: DataFrame,
                        anchors: DataFrame, nBits: Int, k: Int,
                        probeHamming: Int = 2): DataFrame = {
    require(nBits <= 20, "mask enumeration is 2^nBits")
    require(probeHamming >= 0 && probeHamming <= nBits,
      "probe radius within the bucket width")
    // signBuckets sets bit position = raw anchor vec_id; masks only
    // flip bits 0..nBits-1, so anchors outside that range would make
    // every non-zero probe miss SILENTLY (degrading to radius 0)
    require(collectVectors(anchors).forall(_._1 < nBits),
      s"anchor vec_ids must be < $nBits: probe masks flip only the " +
        s"low $nBits bucket bits")
    val masks: Seq[Long] = (0 until (1 << nBits))
      .filter(m => java.lang.Integer.bitCount(m) <= probeHamming)
      .map(_.toLong)
    val cb = signBuckets(corpus, anchors, nBits)
      .withColumn("c_nrm", norm(col("v")))
    val qb = signBuckets(queries, anchors, nBits)
      .select(col("vec_id").as("q_id"), col("v").as("q_vec"), col("bucket"))
      .withColumn("q_nrm", norm(col("q_vec")))
      .withColumn("bucket", explode(array(
        masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)))
    val scored = cb.join(qb, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
              (dot(col("q_vec"), col("v")) / (col("q_nrm") * col("c_nrm")))
                .as("cos_sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("cos_sim"), col("rn"))
  }

  /** EXACT mean silhouette per vector (Rousseeuw 1987) under cosine
    * distance, at LINEAR cost — no pairwise join exists in the plan.
    *
    * The trick: with unit vectors uᵢ = vᵢ/‖vᵢ‖, the mean cosine
    * distance from i to a cell C is 1 − uᵢ·(Σ_{j∈C} uⱼ)/|C| — a dot
    * product with the cell's SUMMED unit vector. So a(i) (own cell,
    * self excluded: (uᵢ·S_c − 1)/(m_c − 1)) and b(i) (min over other
    * cells) all come from one k-row broadcast of (cell, sum-vector,
    * count). A quadratic silhouette over 100 TB is unrunnable; this
    * shape is one argmax-assignment projection + one (cell, dim) hash
    * aggregate + one broadcast join.
    *
    * Cells are the [[semDedup]]/[[ivfTopK]] assignment: argmax dot
    * against `centroids`, deterministic tie-break on centroid id.
    * Singleton cells get s = 0 (the sklearn convention), as does the
    * max(a,b) = 0 degenerate.
    */
  def silhouette(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val cent = collectVectors(centroids)
    val assigned = corpus
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("cell", top2Cells(cent).getField("b1i"))
      .withColumn("u", transform(col("v"), x => x / sqrt(dot(col("v"), col("v")))))
      .drop("v")
    // (cell, dim) hash aggregate: k x dims rows cross the shuffle
    val cellSums = assigned
      .select(col("cell"), posexplode(col("u")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim")).agg(sum(col("x")).as("sx"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("dim"), col("sx")))).as("ps"))
      .select(col("cell").as("s_cell"),
        expr("transform(ps, p -> p.sx)").as("s_vec"))
    val cellCounts = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("m"))
      .select(col("cell").as("s_cell"), col("m"))
    val cellTable = cellSums.join(cellCounts, "s_cell")
    // every vector against the k-row broadcast cell table
    val meanD = assigned.crossJoin(broadcast(cellTable))
      .select(col("vec_id"), col("cell"), col("s_cell"), col("m"),
        dot(col("u"), col("s_vec")).as("us"))
      .select(col("vec_id"), col("cell"), col("s_cell"), col("m"),
        when(col("s_cell") === col("cell"),
          when(col("m") > 1,
            lit(1.0) - (col("us") - 1.0) / (col("m") - 1).cast("double"))
            .otherwise(lit(null)))
          .otherwise(lit(1.0) - col("us") / col("m").cast("double"))
          .as("md"))
    meanD.groupBy(col("vec_id"), col("cell"))
      .agg(max(when(col("s_cell") === col("cell"), col("md"))).as("a"),
        min(when(col("s_cell") =!= col("cell"), col("md"))).as("b"))
      .select(col("vec_id"), col("cell"), col("a"), col("b"),
        when(col("a").isNull || col("b").isNull ||
            greatest(col("a"), col("b")) <= 0.0, lit(0.0))
          .otherwise((col("b") - col("a")) / greatest(col("a"), col("b")))
          .as("s"))
  }

  /** Johnson–Lindenstrauss random projection: 64-dim floats down to
    * `dOut` dims via a ±1 sign matrix scaled 1/√dOut (Achlioptas 2003,
    * "Database-friendly random projections"), self-evaluated by
    * emitting each vector's squared norm and squared distance to the
    * vec_id-0 anchor in BOTH spaces (JL says they agree in
    * expectation; distances are norms of differences, so the anchor
    * column is the pairwise-distance check in O(n) rather than O(n²)).
    *
    * The sign matrix is md5-derived from (i, j) ONLY — both engines
    * regenerate it from the formula, and the Spark side inlines the
    * signs as literals at plan time, so each output dim is a pure
    * codegen'd literal-weighted sum. Zero shuffles, zero state.
    */
  def randomProjection(corpus: DataFrame, dIn: Int = 64,
                       dOut: Int = 16): DataFrame = {
    def sign(i: Int, j: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"rp:$i:$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
    }
    val scale = 1.0 / math.sqrt(dOut.toDouble)
    def proj(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array((0 until dOut).map { j =>
      (0 until dIn).map { i =>
        element_at(v, i + 1) * lit(sign(i, j))
      }.reduce(_ + _) * lit(scale)
    }: _*)
    val base = corpus
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("y", proj(col("v")))
    val anchor = broadcast(base.filter(col("vec_id") === 0)
      .select(col("v").as("av"), col("y").as("ay")))
    base.crossJoin(anchor)
      .select(col("vec_id"),
        dot(col("v"), col("v")).as("n2_orig"),
        dot(col("y"), col("y")).as("n2_proj"),
        dot(zip_with(col("v"), col("av"), (a, b) => a - b),
          zip_with(col("v"), col("av"), (a, b) => a - b)).as("d2_anchor_orig"),
        dot(zip_with(col("y"), col("ay"), (a, b) => a - b),
          zip_with(col("y"), col("ay"), (a, b) => a - b)).as("d2_anchor_proj"))
  }
}
