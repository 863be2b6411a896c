package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication operators for a training-data pipeline: exact hashing,
  * n-gram Jaccard, MinHash+LSH, and SimHash over the `documents` table.
  *
  * Scale design notes (the point of each shape):
  *  - exact: one hash-groupBy — a single shuffle on a 128-bit key.
  *  - n-gram Jaccard: the all-pairs form below is the CORRECTNESS
  *    reference; at 100 TB you never run it directly — [[minhashLsh]] is
  *    the scale path that prunes the pair space to colliding LSH bands
  *    first (shuffle on band keys, candidates ≪ n²).
  *  - MinHash signatures are computed as a pure per-row fold over the
  *    shingle array (transform/aggregate inside codegen — NO
  *    explode+groupBy shuffle for signatures; the only shuffles are the
  *    band-bucket self-join and final distinct).
  *  - SimHash: per-row fold, zero shuffles; near-dup = signature equality
  *    or small Hamming distance on a 32-bit key.
  *
  * All hashes derive from md5 (see [[graft.functions.TextFunctions]]) so
  * the DuckDB oracle reproduces every signature bit-for-bit.
  */
object Dedup {

  /** Exact dedup: md5 of normalized text; keeper = min doc_id per hash
    * (the canonical representative a 100 TB dedup job would keep).
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(lower(col("text"))).as("h"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keeper"))

  /** Diacritic fold for [[normalizedKey]] — an EXPLICIT 1:1 character
    * map (the common Latin-1/Latin-Extended diacritics) instead of an
    * engine's locale-dependent Unicode normalizer, so both engines
    * produce identical keys by construction.
    */
  val AccentFrom = "áàâäãåéèêëíìîïóòôöõúùûüçñýÿ"
  val AccentTo = "aaaaaaeeeeiiiiooooouuuucnyy"

  /** Normalization key: lowercase → diacritic fold → ASCII punctuation
    * to spaces → whitespace-run collapse → trim. Pure codegen
    * projection.
    */
  def normalizedKey(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(translate(lower(text), AccentFrom, AccentTo),
        "\\p{Punct}", " "),
      "\\s+", " "))

  /** Normalization-folded exact dedup — the multilingual twin of
    * [[exact]]: documents that differ only in case, diacritics, ASCII
    * punctuation, or whitespace runs fingerprint identically ("Café,
    * Déjà-Vu!" ≡ "cafe deja vu"), the fold a mixed-crawl dedup runs
    * before exact hashing so trivially-reformatted copies collapse.
    * Same scale shape as [[exact]]: one hash aggregate, map-side
    * partials, fingerprint-keyed shuffle only.
    */
  def normalizedExact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(normalizedKey(col("text"))).as("h"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keeper"))

  /** Cross-source duplication matrix: for every pair of sources (crawl
    * snapshots, domains, dumps), how many distinct LINES they share —
    * the overlap audit run before mixing corpora, at line granularity
    * because boilerplate repeats across sources line-for-line even
    * when documents differ.
    *
    * Shape: explode to (line-hash, source), distinct (one narrow
    * shuffle; map-side partials collapse each split's repeats), then a
    * self-equi-join on the hash whose per-key fanout is bounded by the
    * SOURCE COUNT (each hash carries at most one row per source —
    * never corpus-sized), finishing in an S² aggregate. With S in the
    * hundreds the join output is ≤ S²/2 rows per shared hash.
    */
  def sourceOverlap(df: DataFrame, groupCol: String, textCol: String,
                    sep: String = "\n"): DataFrame = {
    val f = df
      .select(col(groupCol).as("source"),
        explode(split(col(textCol),
          java.util.regex.Pattern.quote(sep), -1)).as("line"))
      .select(md5(col("line")).as("h"), col("source"))
      .distinct()
    f.as("a")
      .join(f.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Content-defined chunking (CDC): cut every document into chunks at
    * DATA-DERIVED boundaries — after any token whose hash ≡ 0 mod
    * `mod` (expected chunk length ≈ `mod` tokens). Because boundaries
    * depend on content, not position, a small edit shifts ONE chunk
    * while every other chunk keeps its fingerprint — the property that
    * makes CDC the standard primitive for sub-document dedup and
    * delta storage (vs fixed-separator lines or fixed-width windows,
    * which misalign after any insertion).
    *
    * Returns one row per chunk: (doc_id, chunk, fp, n_tok).
    *
    * Shape: one token posexplode (linear), a PER-DOC cumulative-sum
    * window (partitions are document-bounded — no global sort), one
    * (doc, chunk) hash aggregate for ordered reassembly. All hashes
    * md5-derived for oracle parity.
    */
  def cdcChunks(docs: DataFrame, mod: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toksP = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toksP
      .withColumn("brk",
        when(graft.functions.TextFunctions.hash60(col("tok")) % mod === 0, 1L)
          .otherwise(0L))
      .withColumn("chunk", coalesce(sum(col("brk")).over(w), lit(0L)))
      .groupBy(col("doc_id"), col("chunk"))
      .agg(md5(concat_ws(" ", expr(
        "transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)")))
        .as("fp"),
        count(lit(1)).as("n_tok"))
  }

  /** Chunks of [[cdcChunks]] that recur anywhere in the corpus —
    * the shared-boilerplate / copied-passage report. One narrow
    * fingerprint aggregate.
    */
  def cdcDupChunks(docs: DataFrame, mod: Int = 8): DataFrame =
    cdcChunks(docs, mod)
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("n_tok")).as("n_tokens"))
      .filter(col("n_occ") > 1)

  /** Incremental exact dedup of a NEW BATCH against an at-rest corpus
    * — the shape that matters at 100 TB, where re-shuffling the corpus
    * per ingest batch is not an option. Returns the new rows whose
    * normalized text already exists in the corpus, as
    * `(doc_id, fp)`.
    *
    * Two passes, neither of which shuffles the corpus:
    *  1. A Bloom filter over the corpus fingerprints (built with a
    *     map-side tree aggregate, broadcast to executors) prefilters
    *     the new batch — docs the filter rejects are PROVABLY novel
    *     (no false negatives) and drop out map-side. This is the only
    *     UDF in the repo's operators, confined to the small new-batch
    *     tier; the corpus side stays fully declarative.
    *  2. The surviving candidates (expected-duplicate-rate × batch,
    *     tiny) broadcast, and the corpus streams past them in a
    *     BroadcastHashJoin to confirm exactly — Bloom false positives
    *     die here, so the result is exact for ANY fpp.
    *
    * The filter itself is reusable across batches: the prebuilt-filter
    * overload below lets a caller own the filter's lifecycle (build it
    * once, keep it a superset of the corpus as batches land, rebuild
    * it only when the corpus outgrows its capacity, since a filter
    * sized below its item count saturates and passes nearly every
    * key); this entry point rebuilds per call to stay a pure
    * function. `expectedItems <= 0` (the
    * default) sizes the filter from an actual corpus count so it can
    * never silently saturate — pass an explicit tracked count to skip
    * that extra corpus pass.
    *
    * EAGER, unlike every other operator here: `stat.bloomFilter` runs
    * a corpus-scan job at CALL time (the filter must exist before the
    * returned plan can be built), so merely constructing or explaining
    * this query pays one corpus pass (two with the sizing count).
    * Callers that only want the plan shape should pass a small corpus.
    */
  def dedupAgainstCorpus(newDocs: DataFrame, corpus: DataFrame,
                         expectedItems: Long = -1L,
                         fpp: Double = 0.01): DataFrame = {
    val fp = md5(lower(col("text")))
    val items =
      if (expectedItems > 0) expectedItems
      else math.max(corpus.count(), 1L)
    val bloom = corpus.select(fp.as("fp"))
      .stat.bloomFilter("fp", items, fpp)
    dedupAgainstCorpus(newDocs, corpus, bloom)
  }

  /** Prebuilt-filter variant — the cross-batch path: the caller owns
    * the Bloom filter (build once sized from the corpus, fold in its
    * own appends, rebuild on material growth) and each call pays only
    * batch-side work plus the confirm join. Exact for ANY filter
    * contents PROVIDED the filter has no false negatives for the
    * corpus — rows the filter rejects are assumed novel and kept, so
    * a stale filter that misses corpus rows readmits duplicates.
    */
  def dedupAgainstCorpus(newDocs: DataFrame, corpus: DataFrame,
                         bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val spark = newDocs.sparkSession
    val fp = md5(lower(col("text")))
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val mightContain =
      udf((s: String) => s != null && bloomBc.value.mightContainString(s))
    val candidates = newDocs
      .select(col("doc_id"), fp.as("fp"))
      .filter(mightContain(col("fp")))
    corpus.select(fp.as("fp"))
      .join(broadcast(candidates), "fp")
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  /** All-pairs shingle-overlap counts `(doc_a, doc_b, nsh_a, nsh_b,
    * common)` — the shared TEST-TIER truth body behind
    * [[ngramJaccard]] and [[containmentRecall]] (one shape, two final
    * score columns). The shingle equi-join is O(n²) worst case, hence
    * the `maxInputRows` refusal; the guard scan stops at the
    * threshold (limit pushes down), so the check costs
    * O(maxInputRows), not a full corpus count.
    */
  private def shinglePairCommon(docs: DataFrame, n: Int,
                                maxInputRows: Long, caller: String,
                                scalePath: String): DataFrame = {
    require(docs.limit((maxInputRows + 1).toInt).count() <= maxInputRows,
      s"$caller is the all-pairs CORRECTNESS reference, not the scale " +
        s"path (input exceeds $maxInputRows rows): use " +
        s"$scalePath, or raise maxInputRows explicitly")
    val rows = shingleRows(docs, n)
    val sizes = rows.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val sh = rows.join(sizes, "doc_id")
    sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
               col("a.nsh").as("nsh_a"), col("b.nsh").as("nsh_b"))
      .agg(count(lit(1)).as("common"))
  }

  /** Distinct (doc_id, shingle) ROWS without interpreted lambdas:
    * explode the codegen'd offset range and assemble each shingle once
    * per output row. (Exploding an array built by a CodegenFallback
    * `transform` re-evaluates the whole array once PER ELEMENT —
    * measured ~17x slower at sf0.1.) Pass `distinct = false` when the
    * consumer is duplicate-insensitive (e.g. a min-aggregation) to
    * skip the dedup exchange.
    */
  def shingleRows(docs: DataFrame, n: Int = 3,
                  distinct: Boolean = true): DataFrame = {
    val parts = (0 until n).map(k => element_at(col("w"), col("i") + k + 1))
    // parallelism floor before the tokenize+explode chain (guide §2.5:
    // the local corpus is one unsplittable file, so the whole shingle
    // explosion otherwise runs in ONE task); keyed by doc_id so the
    // per-doc aggregates/windows downstream inherit the partitioning.
    // No-op when the scan already has parallelism (production shape).
    val rows = graft.core.Parallelism.spreadByKey(docs, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), size(col("w")) - n)).as("i"))
      .select(col("doc_id"), concat_ws(" ", parts: _*).as("shingle"))
    if (distinct) rows.distinct() else rows
  }

  /** All-pairs n-gram Jaccard ≥ `minJaccard` via a shingle equi-join:
    * distinct shingle rows, self-join on shingle, count common,
    * |A∪B| = |A|+|B|−common.
    *
    * TEST-TIER: the shingle self-join is O(n²) in the worst case; this
    * form exists as the exact correctness reference for [[minhashLsh]]
    * (the scale path) and REFUSES corpora above `maxInputRows` so it
    * cannot be lifted into a 100 TB job unchanged — pass a larger
    * bound explicitly to override.
    */
  def ngramJaccard(docs: DataFrame, n: Int = 3,
                   minJaccard: Double = 0.2,
                   maxInputRows: Long = 100000L): DataFrame = {
    val pairs = shinglePairCommon(docs, n, maxInputRows,
      "ngramJaccard", "minhashLsh/minhashLshDedup")
    pairs
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("nsh_a") + col("nsh_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  // MinHash parameters: 32 hash functions in 8 bands of 4 rows
  // (collision threshold ≈ (1/8)^(1/4) ≈ 0.59 Jaccard).
  val NumHashes = 32
  val NumBands = 8
  val RowsPerBand: Int = NumHashes / NumBands
  val MinhashPrime = 2147483647L // 2^31 - 1
  val hashA: Seq[Long] = (1 to NumHashes).map(i => i * 1299721L % MinhashPrime)
  val hashB: Seq[Long] = (1 to NumHashes).map(i => i * 15485863L % MinhashPrime)

  /** MinHash signature per document: sig[i] = min over shingles s of
    * (a_i * (h(s) mod p) + b_i) mod p.
    *
    * Shape: explode shingles → 32 `min(...)` aggregate columns →
    * re-assemble the signature array. Catalyst's higher-order lambda
    * functions are interpreted (CodegenFallback), so a per-row
    * `transform/aggregate` fold is ~10x slower than this fully
    * codegen'd hash aggregate; the groupBy shuffles only (doc_id,
    * 32 longs) after map-side partial aggregation collapses each doc's
    * shingles locally.
    */
  def minhashSignatures(docs: DataFrame, n: Int = 3): DataFrame = {
    // duplicate shingles cannot change a min, so skip the distinct
    val exploded = shingleRows(docs, n, distinct = false)
      .select(col("doc_id"),
        (graft.functions.TextFunctions.hash60(col("shingle"))
          % MinhashPrime).as("x"))
    val minCols = (0 until NumHashes).map { i =>
      min((col("x") * hashA(i) + hashB(i)) % MinhashPrime).as(s"m$i")
    }
    exploded.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH band keys: md5 over each 4-row slice of the signature. One
    * NARROW row per (doc, band) — just (doc_id, band, bkey), so the
    * band-bucket shuffle moves ~50 bytes per row, never the shingle
    * arrays.
    */
  def lshBands(sigs: DataFrame): DataFrame = {
    val slice = (1 to RowsPerBand)
      .map(k => s"cast(element_at(sig, $RowsPerBand*j+$k) as string)")
      .mkString("concat_ws(',', ", ", ", ")")
    sigs.select(
      col("doc_id"),
      expr(s"explode(transform(sequence(0, ${NumBands - 1}), j -> " +
        s"named_struct('band', j, 'bkey', md5($slice))))").as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** Per-bucket candidate cap for [[minhashLsh]]. Deterministic (the
    * `MaxBucket` SMALLEST doc_ids per bucket survive), so the DuckDB
    * oracle reproduces the exact same truncation; buckets at or under
    * the cap are unaffected.
    */
  val MaxBucket = 64

  /** MinHash+LSH near-dup: candidates collide on ≥1 band; candidate
    * PAIRS are generated by collecting each bucket's doc list and
    * expanding in-bucket combinations — ONE pass over the bands (a
    * self-join would recompute the whole signature pipeline for each
    * side). Candidates are then verified with exact Jaccard computed
    * over streamed (doc_id, shingle) rows — see [[verifyJaccard]]; no
    * shingle arrays are ever materialized. At 100 TB the candidate
    * set is the tiny fraction banding lets through.
    */
  def minhashLsh(docs: DataFrame, n: Int = 3,
                 minJaccard: Double = 0.2,
                 maxBucket: Int = MaxBucket): DataFrame =
    verifyJaccard(lshCandidates(docs, n, maxBucket), docs, n, minJaccard)

  /** Candidate pairs from band collisions, hot buckets capped.
    * Package-visible so plan-shape specs can inspect this segment —
    * [[minhashLsh]] checkpoints it (see [[verifyJaccard]]), which
    * truncates it out of the public query's lineage.
    */
  private[graft] def lshCandidates(docs: DataFrame, n: Int,
                                   maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bands = lshBands(minhashSignatures(docs, n))
    // Hot buckets are BOUNDED: a mass-duplicate corpus (the #1
    // real-world dedup case) puts every copy in one bucket, and an
    // uncapped collect_list would build a single giant array row.
    // Rank-then-truncate keeps the maxBucket smallest doc_ids — the
    // rank is a sort-based window (spills, never holds a bucket in one
    // buffer), so collect_list sees ≤ maxBucket rows by construction
    // and pair expansion is ≤ maxBucket² per bucket. For the complete
    // answer on a skewed corpus use [[minhashLshDedup]] (linear).
    val ranked = bands
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("band"), col("bkey")).orderBy(col("doc_id"))))
      .filter(col("__rn") <= maxBucket)
    val buckets = ranked.groupBy(col("band"), col("bkey"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
    val cands = buckets
      .select(explode(expr(
        """filter(flatten(transform(ids, a -> transform(ids, b ->
          |  struct(a as doc_a, b as doc_b)))), p -> p.doc_a < p.doc_b)"""
          .stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
    cands
  }

  /** Exact-Jaccard verification of candidate pairs (shared by
    * [[minhashLsh]] and [[minhashLshDedup]]). Requires
    * `minJaccard > 0` (zero-overlap pairs are never emitted).
    *
    * Shape: explode the pairs into a (doc_id → pair, side) membership
    * table, stream the corpus's (doc_id, shingle) ROWS past it in ONE
    * equi-join, then aggregate per pair — the distinct shingles either
    * side contributes is `|A∪B|`, the ones both sides contribute is
    * `|A∩B|`, so jaccard = common/uni with no size lookup at all.
    * Shuffle volume is pair-scoped (Σ |A|+|B| over candidates), never
    * corpus-scoped: no shingle ARRAYS are materialized, nothing
    * corpus-sized is broadcast, and intra-doc duplicate shingles
    * dedup inside the same pair-keyed aggregation (so the corpus-wide
    * distinct is skipped too). A previous array_intersect formulation
    * broadcast every document's shingle array and re-evaluated the
    * intersection inside the join condition.
    */
  private def verifyJaccard(cands: DataFrame, docs: DataFrame, n: Int,
                            minJaccard: Double): DataFrame = {
    require(minJaccard > 0, "verifyJaccard emits only overlapping pairs")
    pairOverlap(cands, docs, n)
      .withColumn("jaccard",
        col("common").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Shared per-pair overlap aggregate behind [[verifyJaccard]] and
    * [[minhashLshContainment]]: for each candidate pair emits
    * `(doc_a, doc_b, uni, common, na, nb)` — distinct shingles either
    * side contributes (|A∪B|), both sides (|A∩B|), and each side
    * alone-plus-shared (|A|, |B|) — everything any set-overlap score
    * (Jaccard, containment, overlap coefficient) needs, from ONE
    * aggregation.
    *
    * The candidate table feeds TWO subtrees (the semi-join filter and
    * the membership join) and exchange reuse does not unify them, so
    * without pinning, the whole signature->bands->buckets pipeline
    * runs twice. Candidates are small (bounded by the bucket cap);
    * lazy localCheckpoint computes them once and serves both sides —
    * and unlike df.persist (whose CacheManager entry outlives every
    * reference), its blocks are RDD-level cache the ContextCleaner
    * reclaims once the query's RDDs are garbage collected.
    */
  private[graft] def pairOverlap(cands: DataFrame, docs: DataFrame,
                          n: Int): DataFrame = {
    val pinned = cands.localCheckpoint(eager = false)
    val members = pinned.select(col("doc_a"), col("doc_b"),
        explode(array(
          struct(col("doc_a").as("doc_id"), lit(1).as("side")),
          struct(col("doc_b").as("doc_id"), lit(2).as("side")))).as("m"))
      .select(col("doc_a"), col("doc_b"),
              col("m.doc_id").as("doc_id"), col("m.side").as("side"))
    // Shingle only docs that appear in some candidate pair: the
    // semi-join runs BEFORE the explode, so the n-gram blowup is
    // proportional to the verify work, not the corpus.
    val needed = docs.join(
      members.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
    shingleRows(needed, n, distinct = false)
      .join(members, "doc_id")
      .groupBy(col("doc_a"), col("doc_b"), col("shingle"))
      .agg(min(col("side")).as("mn"), max(col("side")).as("mx"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("uni"),
           sum(when(col("mn") < col("mx"), 1L).otherwise(0L)).as("common"),
           sum(when(col("mn") === 1, 1L).otherwise(0L)).as("na"),
           sum(when(col("mx") === 2, 1L).otherwise(0L)).as("nb"))
  }

  /** Containment near-dup on the SAME LSH candidate path: score
    * |A∩B| / min(|A|, |B|) instead of Jaccard — the asymmetric overlap
    * that catches a short document copied INSIDE a long one, where
    * symmetric Jaccard stays low because the union is dominated by the
    * long side. Candidates, caps, and verify cost are identical to
    * [[minhashLsh]] (recall inherits the banding: a very short
    * contained doc may not band-collide with its container — raise
    * bands or shingle length to trade recall for cost).
    */
  def minhashLshContainment(docs: DataFrame, n: Int = 3,
                            minContainment: Double = 0.6,
                            maxBucket: Int = MaxBucket): DataFrame =
    pairOverlap(lshCandidates(docs, n, maxBucket), docs, n)
      .withColumn("containment",
        col("common").cast("double") /
          least(col("na"), col("nb")).cast("double"))
      .filter(col("containment") >= minContainment)
      .select(col("doc_a"), col("doc_b"), col("containment"))

  /** Dedup-oriented MinHash+LSH with output LINEAR in bucket size: each
    * colliding bucket links its members to the bucket REPRESENTATIVE
    * (min doc_id) instead of expanding all in-bucket pairs — a bucket
    * of b mass-identical docs yields b−1 (keeper, duplicate) edges, not
    * b(b−1)/2, and the plan is pure aggregates + equi-joins (no
    * collect_list anywhere, nothing unbounded per row). Every edge is
    * exact-Jaccard verified, so precision equals [[minhashLsh]]; recall
    * links every doc that shares a bucket with its representative —
    * the keep-one-per-group relation a 100 TB dedup job consumes.
    */
  def minhashLshDedup(docs: DataFrame, n: Int = 3,
                      minJaccard: Double = 0.2): DataFrame = {
    // bands feed TWO subtrees (the representative aggregate and the
    // member join): pin them or the whole shingle->minhash pipeline —
    // the expensive part — runs twice (the pairOverlap rationale)
    val bands = lshBands(minhashSignatures(docs, n))
      .localCheckpoint(eager = false)
    val reps = bands.groupBy(col("band"), col("bkey"))
      .agg(min(col("doc_id")).as("doc_a"), count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
    val cands = bands.join(reps, Seq("band", "bkey"))
      .filter(col("doc_id") =!= col("doc_a"))
      .select(col("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cands, docs, n, minJaccard)
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS algorithm): hash every k-gram, slide a window of `w`
    * consecutive hashes, keep each window's MINIMUM — the selected set
    * is position-independent and GUARANTEES that any shared token run
    * of length ≥ `w + k − 1` between two documents shares at least one
    * fingerprint, at an expected density of 2/(w+1) per gram. The
    * sub-document copy detector that whole-doc hashing
    * ([[graft.operators.TextAnalysis.fingerprint]]) cannot be.
    *
    * Shape: one positional k-gram explode (codegen, no arrays
    * materialized per row), a PER-DOCUMENT min window (partitions are
    * doc-bounded — no global sort), one distinct. Hashes are
    * [[graft.functions.TextFunctions.hash60]] (md5-derived) so the
    * oracle reproduces every fingerprint bit-for-bit. Documents with
    * fewer than `w + k − 1` tokens emit nothing (no full window — the
    * guarantee bound, mirrored in the oracle).
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 3,
                         w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && w >= 1, "k and w must be positive")
    val parts = (0 until k).map(j => element_at(col("wd"), col("pos") + j + 1))
    val grams = docs
      .select(col("doc_id"), tokens(col("text")).as("wd"))
      .filter(size(col("wd")) >= k)
      .select(col("doc_id"), col("wd"),
        (size(col("wd")) - k + 1).cast("long").as("n_grams"),
        explode(sequence(lit(0), size(col("wd")) - k)).as("pos"))
      .select(col("doc_id"), col("n_grams"), col("pos"),
        hash60(concat_ws(" ", parts: _*)).as("h"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("fp", min(col("h")).over(win))
      .filter(col("pos") <= col("n_grams") - w) // full windows only
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  /** Pairwise shared-fingerprint report over [[winnowFingerprints]]:
    * `(doc_a, doc_b, n_shared)` for every pair sharing ≥1 selected
    * fingerprint — the copy-suspect shortlist. Fingerprints occurring
    * in more than `maxDocsPerFp` documents are dropped BEFORE pairing
    * (ubiquitous boilerplate would otherwise pair quadratically — the
    * same bound discipline as the LSH bucket cap; per-fp join fanout
    * is ≤ maxDocsPerFp² by construction).
    */
  def winnowOverlap(docs: DataFrame, k: Int = 3, w: Int = 4,
                    maxDocsPerFp: Int = 64): DataFrame = {
    // the fingerprint set feeds THREE subtrees (both join sides and the
    // ubiquity filter); pin it so the explode+window pipeline runs once
    // (the verifyJaccard localCheckpoint rationale — ContextCleaner
    // reclaims the blocks once the query's RDDs are collected)
    val fps = winnowFingerprints(docs, k, w).localCheckpoint(eager = false)
    val bounded = fps.join(
      fps.groupBy(col("fp")).agg(count(lit(1)).as("nd"))
        .filter(col("nd") <= maxDocsPerFp),
      Seq("fp"), "left_semi")
    bounded.as("a")
      .join(bounded.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Exact duplicated-substring REMOVAL (the ExactSubstr policy of Lee
    * et al. 2021, "Deduplicating Training Data Makes Language Models
    * Better", at token k-gram granularity): any k-token run whose exact
    * content occurs more than once anywhere in the corpus — including
    * twice in the same document — is cut from EVERY document, and the
    * surviving tokens reassemble in order. This is the pass that
    * catches boilerplate *fragments* (license headers, navigation
    * chrome, quoted passages) embedded inside otherwise-unique
    * documents, which document-, paragraph-, and line-granular dedup
    * all miss. The paper's suffix-array formulation is a single-node
    * construction; the distributed equivalent is positional k-gram
    * fingerprints: a token is removed iff it is covered by at least one
    * globally-duplicated k-gram, which removes exactly the tokens lying
    * inside a duplicated run of length ≥ k.
    *
    * Output: one row per input document — `n_tokens`, `n_kept`, and the
    * reassembled `cleaned` text ('' when everything was duplicated).
    *
    * Scale shape: one positional k-gram explode (codegen — no arrays
    * survive it), ONE shuffle on the gram hash for the global
    * occurrence count (partial+final hash agg, so a billion-occurrence
    * gram ships one partial row per map task), a left-semi join back to
    * the gram stream to keep duplicated start positions (counts
    * aggregate BEFORE the join — the side broadcasts when the
    * duplicated-gram set fits), then a per-document running-max window
    * (`covered(p) ⟺ max dup-start ≤ p ≥ p−k+1` — doc-bounded
    * partitions, no global sort) and one doc_id shuffle for ordered
    * reassembly. Nothing is ever collected or corpus-broadcast.
    */
  def exactSubstrDedup(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be positive")
    val parts = (0 until k).map(j => element_at(col("wd"), col("pos") + j + 1))
    val grams = docs
      .select(col("doc_id"), tokens(col("text")).as("wd"))
      .filter(size(col("wd")) >= k)
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("wd")) - k)).as("pos"), col("wd"))
      .select(col("doc_id"), col("pos"),
        hash60(concat_ws(" ", parts: _*)).as("gh"))
    val dupGh = grams.groupBy(col("gh")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
    val dupStarts = grams.join(dupGh, Seq("gh"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val toks = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("p", "tok")))
    val runMax = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // explicit aliases: both sides derive from `docs`, and the bare
    // toks("doc_id") === dupStarts("doc_id") form leans on the
    // analyzer's self-join disambiguation (it warns "trivially true
    // equals predicate" and is one refactor from silently joining a
    // column to itself)
    val kept = toks.alias("t")
      .join(dupStarts.withColumn("isdup", lit(1)).alias("d"),
        col("t.doc_id") === col("d.doc_id") && col("t.p") === col("d.pos"),
        "left")
      .select(col("t.doc_id"), col("t.p").as("p"), col("tok"), col("isdup"))
      .withColumn("cov",
        max(when(col("isdup") === 1, col("p"))).over(runMax))
      .filter(col("cov").isNull || col("p") > col("cov") + (k - 1))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(p, tok))), x -> x.tok)"))
          .as("cleaned"))
    docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** CROSS-corpus near-dedup: every (corpus doc, new doc) pair with
    * exact shingle Jaccard ≥ `minJaccard` — the batch shape for
    * "dedup this new crawl dump against the at-rest corpus before
    * mixing it in", where a self-join over `corpus ∪ new` would
    * re-pair the (much larger) corpus against itself for nothing.
    *
    * Candidates come from a band-key EQUI-join of the two sides' LSH
    * bands — cost ∝ collisions, never |corpus| × |new| — with the
    * CORPUS side rank-capped at `maxBucket` smallest doc_ids per
    * bucket (an at-rest mass-duplicate bucket stays bounded; the new
    * side is batch-sized by assumption). Every candidate is verified
    * by true pair-scoped Jaccard ([[pairOverlap]] — only implicated
    * corpus docs are re-shingled, via the member semi-join).
    *
    * Returns `(doc_a ∈ corpus, doc_b ∈ new, jaccard)`. Doc ids must be
    * disjoint across the two inputs. Every call recomputes the
    * corpus's band keys; at 100 TB a per-batch caller should persist
    * the corpus bands once and reuse them.
    */
  def minhashLshAgainst(newDocs: DataFrame, corpus: DataFrame,
                        n: Int = 3, minJaccard: Double = 0.2,
                        maxBucket: Int = MaxBucket): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpusBands = lshBands(minhashSignatures(corpus, n))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("band"), col("bkey")).orderBy(col("doc_id"))))
      .filter(col("__rn") <= maxBucket)
      .select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
    val newBands = lshBands(minhashSignatures(newDocs, n))
      .select(col("doc_id").as("doc_b"), col("band"), col("bkey"))
    val cands = corpusBands.join(newBands, Seq("band", "bkey"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val union = corpus.select(col("doc_id"), col("text"))
      .unionByName(newDocs.select(col("doc_id"), col("text")))
    pairOverlap(cands, union, n)
      .withColumn("jaccard",
        col("common").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Duplicate-cluster formation — the step a 100 TB dedup job runs
    * AFTER candidate pairs: connected components over the near-dup
    * edge set, labeling every document with the smallest doc_id
    * reachable through duplicate edges (the cluster keeper).
    *
    * Pure DataFrame min-label propagation: each round joins the
    * symmetrized edges to the current labels, takes the per-node min
    * of neighbor labels, and stops at fixpoint — O(cluster diameter)
    * rounds, each one shuffle on the node id; `localCheckpoint`
    * truncates the lineage so round N does not recompute rounds
    * 1..N−1 (the standard iterative-DataFrame discipline). Duplicate
    * clusters have tiny diameters in practice (most are stars around
    * one original), so the round count stays low; `maxIters` is a
    * fail-loud bound, not a truncation.
    */
  def duplicateClusters(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    // hash by src BEFORE the checkpoint: the dedup inherits it (keys
    // ⊇ src) and — because localCheckpoint pins the partitioning —
    // every round's edges⨝labels join reuses it for free; only the
    // labels side moves per round (guide §2.4: two operations keyed
    // the same way share one exchange)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(col("src"))
      .dropDuplicates(Seq("src", "dst"))
      .localCheckpoint()
    var labels = edges.select(col("src")).distinct()
      .select(col("src").as("doc_id"), col("src").as("cluster"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    var prevCheckpoint: DataFrame = labels
    while (changed > 0) {
      iter += 1
      require(iter <= maxIters,
        s"duplicateClusters did not converge in $maxIters rounds")
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("src"), col("cluster").as("nc")),
          "src")
        .groupBy(col("dst"))
        .agg(min(col("nc")).as("nmin"))
      val updated = labels
        .join(neighborMin.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster")))
            .as("next"))
        .localCheckpoint()
      // release the round N-1 checkpoint once round N is materialized,
      // or O(rounds x |labels|) cached blocks pile up on the executors
      prevCheckpoint.unpersist()
      prevCheckpoint = updated
      changed = updated.filter(col("next") < col("cluster")).count()
      labels = updated.select(col("doc_id"), col("next").as("cluster"))
    }
    labels
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014) — the scale path beside
    * [[duplicateClusters]]. Min-label propagation costs O(component
    * DIAMETER) rounds, and a crawl corpus occasionally hands dedup a
    * long chain of pairwise near-dups (template drift across a date
    * range) — at 100 TB a 300-diameter component is 300 shuffles.
    * Star alternation converges in O(log² n) rounds on ANY topology:
    * large-star hangs each node's LARGER neighbors onto its smallest
    * neighbor-or-self, small-star re-parents each node's SMALLER
    * neighborhood onto its minimum, and the edge set collapses
    * geometrically into one star per component centered at the
    * component min — the same (doc_id, cluster) labeling as
    * [[duplicateClusters]] (equality + the round-count bound proven
    * in `DedupSkewSpec`: a 40-chain converges inside 12 rounds where
    * propagation needs 39).
    *
    * Per round: one neighbor-min hash aggregate + one edges⨝min join
    * per star phase, a canonical distinct, and a set-equality
    * fixpoint check — every step keyed on a node id, no windows, no
    * driver state beyond two counts; lineage truncated per round
    * with `localCheckpoint` (the [[duplicateClusters]] discipline).
    */
  def duplicateClustersStar(pairs: DataFrame,
                            maxIters: Int = 50): DataFrame = {
    // canonical undirected edge set (lo < hi)
    var canon = pairs
      .select(least(col("doc_a"), col("doc_b")).as("lo"),
        greatest(col("doc_a"), col("doc_b")).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
      .localCheckpoint()
    var prevCheckpoint = canon
    var iter = 0
    var converged = canon.isEmpty
    while (!converged) {
      iter += 1
      require(iter <= maxIters,
        s"duplicateClustersStar did not converge in $maxIters rounds")
      // large-star: from each node u, every neighbor v > u re-hangs
      // onto m(u) = min(Γ(u) ∪ {u}); edges with no larger endpoint
      // survive via the other direction of the symmetrized list
      // (r17 note: forcing a shared src-hash exchange + lazy
      // checkpoint under both star-phase consumers was tried and
      // REVERTED — the neighbor-min aggregate is tiny and BROADCASTS
      // back, so the un-partitioned side never paid an exchange here;
      // the forced shuffle+cache of the full symmetric closure
      // measured 4.5 s → 10.5 s on dedup_clusters_star)
      val sym = canon.select(col("lo").as("u"), col("hi").as("v"))
        .unionByName(canon.select(col("hi").as("u"), col("lo").as("v")))
      val mL = sym.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      val ls = sym.join(mL, "u")
        .filter(col("v") > col("u"))
        .select(least(col("v"), col("m")).as("lo"),
          greatest(col("v"), col("m")).as("hi"))
        .filter(col("lo") =!= col("hi"))
        .distinct()
      // small-star: orient to the larger endpoint; each node's
      // smaller neighborhood (∪ itself) re-parents onto its min
      val mS = ls.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val ss = ls.join(mS, "hi")
        .select(col("lo"), col("m"))
        .filter(col("lo") =!= col("m"))
        .select(col("m").as("lo"), col("lo").as("hi"))
        .unionByName(mS.select(col("m").as("lo"), col("hi")))
        .distinct()
        .localCheckpoint()
      // set-equality fixpoint: same cardinality + one-sided ⊆
      converged = ss.count() == canon.count() &&
        ss.exceptAll(canon).isEmpty
      prevCheckpoint.unpersist()
      prevCheckpoint = ss
      canon = ss
    }
    // at fixpoint every component is a star centered at its min:
    // (hi → lo) labels the leaves, the center labels itself
    canon.select(col("hi").as("doc_id"), col("lo").as("cluster"))
      .unionByName(canon.select(col("lo").as("doc_id"),
        col("lo").as("cluster")))
      .distinct()
  }

  /** Representative selection for [[duplicateClusters]] output: per
    * cluster, keep the BEST member by `score` (token count by
    * default — real dedup jobs keep the longest/most complete copy,
    * not the smallest id), ties broken by smallest doc_id. Emits
    * `(cluster, keeper, size, keeper_score)`.
    *
    * Two hash aggregates and one cluster-keyed join — no struct-max
    * (which would fall back to SortAggregate) and no windows: argmax
    * is max-score-then-min-id, each a primitive aggregate.
    */
  def clusterKeepers(clusters: DataFrame, docs: DataFrame,
                     score: org.apache.spark.sql.Column =
                       size(tokens(col("text"))).cast("long")): DataFrame = {
    // scored feeds the per-cluster max AND the argmax probe: pin it so
    // the clusters⨝docs join runs once
    val scored = clusters.join(
      docs.select(col("doc_id"), score.as("s")), "doc_id")
      .localCheckpoint(eager = false)
    val best = scored.groupBy(col("cluster"))
      .agg(max(col("s")).as("keeper_score"), count(lit(1)).as("size"))
    scored.join(best, "cluster")
      .filter(col("s") === col("keeper_score"))
      .groupBy(col("cluster"), col("size"), col("keeper_score"))
      .agg(min(col("doc_id")).as("keeper"))
      .select(col("cluster"), col("keeper"), col("size"), col("keeper_score"))
  }

  val SimhashBits = 32

  /** SimHash near-dup pairs: candidates share the top half of the
    * signature (a 16-bit bucket — one equi-join, no n² pair space),
    * verified by Hamming distance ≤ `maxHamming` on the full 32 bits.
    * The bucket prefilter trades recall for scale exactly like LSH
    * banding; [[simhashNearDupMulti]] raises recall somewhat, and
    * [[simhashNearDupBlocked]] is the pigeonhole-LOSSLESS form
    * (recall of all three is measured under the gate by
    * `dedup_simhash_recall` / `dedup_simhash_recall_blocked`).
    *
    * Hot buckets are BOUNDED exactly like the LSH tier
    * ([[lshCandidates]]): a mass-duplicate corpus puts every copy in
    * ONE bucket, and an uncapped self-join there emits O(bucket²)
    * pairs — at 10⁹ docs that bucket IS the job. Rank-then-truncate
    * keeps the `maxBucket` SMALLEST doc_ids per bucket
    * (deterministic, so the DuckDB oracle reproduces the exact same
    * truncation); pair fanout is ≤ maxBucket²/2 per bucket by
    * construction. For the complete answer on a skewed corpus use
    * [[simhashDedup]] (output linear in bucket size).
    *
    * The signature pipeline feeds both join sides; the lazy
    * localCheckpoint pins it so the shingle+fold stages run ONCE (the
    * [[pairOverlap]] rationale — ContextCleaner reclaims the blocks).
    */
  def simhashNearDup(docs: DataFrame, maxHamming: Int = 6,
                     maxBucket: Int = MaxBucket): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = bucketedSimhash(docs)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("bucket")).orderBy(col("doc_id"))))
      .filter(col("__rn") <= maxBucket)
      .drop("__rn")
      .localCheckpoint(eager = false)
    sh.as("a")
      .join(sh.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Multi-rotation SimHash near-dup — a partial recall upgrade over
    * the single-bucket [[simhashNearDup]]: candidates share the top
    * half of ANY of `rotations` bit-rotations of the signature, so a
    * pair only hides when EVERY rotation splits its differing bits
    * across both halves. MEASURED recall on the test corpus
    * (`dedup_simhash_recall`) is ~25–33% at Hamming ≤ 6 — near-miss
    * pairs spread their bits across every contiguous 16-bit window
    * far more often than the independence intuition suggests, and 4
    * rotations recover almost nothing (19→21 of 57). The LOSSLESS
    * path is [[simhashNearDupBlocked]] (block combinations); this
    * operator remains the cheap low-recall tier (one rotation = the
    * base operator exactly). Each rotation's bucket is independently
    * rank-capped at `maxBucket` (the same deterministic truncation,
    * oracle-mirrored), the candidate pair sets union + distinct, and
    * Hamming verifies once on the full signature — cost is ≤
    * `rotations` × the base operator's, never quadratic.
    */
  def simhashNearDupMulti(docs: DataFrame, maxHamming: Int = 6,
                          rotations: Int = 2,
                          maxBucket: Int = MaxBucket): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rotations >= 1 && rotations <= 8, "rotations in [1, 8]")
    val sh = simhash(docs).localCheckpoint(eager = false)
    val mask = (1L << SimhashBits) - 1
    val cands = (0 until rotations).map { r =>
      val s = (SimhashBits / rotations) * r
      // rotate-left by s within 32 bits, then take the top half
      val rot = sh.withColumn("bucket", expr(
        s"shiftright((shiftleft(simhash, $s) & $mask) | " +
          s"shiftright(simhash, ${SimhashBits - s}), ${SimhashBits / 2})"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("bucket")).orderBy(col("doc_id"))))
        .filter(col("__rn") <= maxBucket)
        .select(col("doc_id"), col("bucket"))
      rot.as("a").join(rot.as("b"),
          col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    }.reduce(_ unionByName _).distinct()
    cands
      .join(sh.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a")),
        "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Dedup-oriented SimHash with output LINEAR in bucket size — the
    * [[minhashLshDedup]] shape on simhash buckets: each multi-member
    * bucket links its members to the bucket REPRESENTATIVE (min
    * doc_id) instead of expanding in-bucket pairs, every edge
    * Hamming-verified on the full signature. A bucket of b
    * mass-identical docs yields b−1 (keeper, duplicate) edges, not
    * b(b−1)/2 — the complete keep-one-per-group relation the capped
    * [[simhashNearDup]] truncates. Plan is aggregates + equi-joins
    * only (no windows, nothing unbounded per row).
    */
  def simhashDedup(docs: DataFrame, maxHamming: Int = 6): DataFrame = {
    val sh = bucketedSimhash(docs).localCheckpoint(eager = false)
    val reps = sh.groupBy(col("bucket"))
      .agg(min(col("doc_id")).as("doc_a"), count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .join(sh.select(col("bucket"), col("doc_id").as("doc_a"),
        col("simhash").as("sig_a")), Seq("bucket", "doc_a"))
    sh.join(reps, "bucket")
      .filter(col("doc_id") =!= col("doc_a"))
      .select(col("doc_a"), col("doc_id").as("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("simhash")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Signatures + top-half bucket, shared by the two simhash pairing
    * shapes.
    */
  private def bucketedSimhash(docs: DataFrame): DataFrame =
    simhash(docs)
      .withColumn("bucket", expr(s"shiftright(simhash, ${SimhashBits / 2})"))

  /** 32-bit SimHash per document: for each bit j, sum +1/−1 over distinct
    * tokens by bit j of the token hash; bit set iff the sum is positive.
    * Entirely a per-row fold — zero shuffles, linear scale-out.
    */
  /** 32-bit SimHash over distinct word 3-gram SHINGLES (not bare
    * tokens): shingles encode local order, so documents sharing a
    * vocabulary but not phrasing still hash apart — over a small
    * vocabulary a token-set simhash is degenerate (most docs contain
    * every token and collide at Hamming 0).
    */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = shingleRows(docs, 3)
      .select(col("doc_id"), graft.functions.TextFunctions.hash60(col("shingle")).as("x"))
    val bitSums = (0 until SimhashBits).map { j =>
      sum(when(expr(s"(shiftright(x, $j) & 1) = 1"), 1).otherwise(-1)).as(s"b$j")
    }
    tok.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until SimhashBits).map(j =>
          when(col(s"b$j") > 0, 1L << j).otherwise(0L)).reduce(_ + _)
          .as("simhash"))
  }

  /** Exact-dedup storage savings by source — the report that turns a
    * dedup run into a budget number: per source, total bytes, bytes
    * retained (each fingerprint's keeper = smallest doc_id, the
    * [[exact]] policy), and bytes a 100 TB store would reclaim by
    * keeping one copy per fingerprint. All BIGINT sums plus one exact
    * ratio division. Sizes are UTF-8 octet counts (`octet_length`),
    * not character counts — on a non-ASCII corpus the reclaimable
    * bytes of a store are byte-sized, and char-counting would
    * understate CJK text ~3×.
    *
    * Scale shape: one fingerprint hash-agg for keepers (map-side
    * partials), one fingerprint-keyed join back, one |sources|-row
    * rollup — the same shuffles [[exact]] already pays.
    */
  def dedupSavings(docs: DataFrame): DataFrame = {
    val fp = docs.select(col("doc_id"), col("source"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      md5(lower(col("text"))).as("h"))
    val keepers = fp.groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
    fp.join(keepers, "h")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(when(col("doc_id") === col("keeper"), col("n_bytes"))
          .otherwise(0L)).as("kept_bytes"))
      .select(col("source"), col("n_docs"), col("total_bytes"),
        col("kept_bytes"),
        (col("total_bytes") - col("kept_bytes")).as("saved_bytes"),
        ((col("total_bytes") - col("kept_bytes")).cast("double") /
          col("total_bytes").cast("double")).as("saved_frac"))
  }

  /** MinHash estimator self-evaluation (the [[graft.operators
    * .TextAnalysis.cmsEstimate]] / sim_ivf_recall pattern applied to
    * dedup): for every pair the LSH path verifies, emit the EXACT
    * Jaccard next to the MinHash ESTIMATE — the fraction of the 32
    * signature components that agree, whose expectation IS the
    * Jaccard (the Broder 1997 identity the whole MinHash family
    * rests on). `est_err` quantifies how tight 32 components are at
    * this corpus's similarity profile — the number that justifies
    * (or indicts) the signature width.
    *
    * Scale shape: rides [[minhashLsh]]'s capped pipeline; the
    * signature join adds two doc_id-keyed equi-joins of 32-long
    * arrays over PAIR-count rows, never corpus-count.
    */
  def minhashEstimate(docs: DataFrame, n: Int = 3,
                      minJaccard: Double = 0.5): DataFrame = {
    val pairs = minhashLsh(docs, n, minJaccard)
    val sigs = minhashSignatures(docs, n)
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")),
        "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        (aggregate(zip_with(col("sa"), col("sb"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).cast("double") /
          lit(NumHashes.toDouble)).as("est"))
      .withColumn("est_err", abs(col("est") - col("jaccard")))
  }

  /** EXACT set-similarity join via prefix filtering (the AllPairs /
    * PPJoin family — Bayardo et al., "Scaling Up All Pairs Similarity
    * Search", WWW'07; Xiao et al., PPJoin, WWW'08): returns exactly
    * the pairs with shingle-set Jaccard ≥ `minJaccard`, identical to
    * [[ngramJaccard]], but WITHOUT the all-pairs shingle self-join.
    *
    * Candidate generation joins only on each document's PREFIX — its
    * |d| − ⌈t·|d|⌉ + 1 globally-rarest shingles under the total order
    * (document frequency asc, shingle asc). The filter is LOSSLESS:
    * J(A,B) ≥ t implies overlap ≥ t·max(|A|,|B|), so two qualifying
    * sets must share a token within both prefixes — every true pair
    * survives, and the verify step re-checks exact Jaccard so no false
    * pair leaks. Unlike MinHash/LSH this has NO false negatives; it is
    * the scale path when the dedup must be provably exact.
    *
    * Scale design: the prefix keeps only rare shingles, so bucket
    * sizes in the candidate self-join are bounded by document
    * frequency of the rarest tokens (common shingles — the quadratic
    * blowup in the naive join — never generate candidates). The
    * symmetric length filter t·|a| ≤ |b| ≤ |a|/t and PPJoin's
    * POSITION filter (Xiao et al. §3.1: the matching prefix positions
    * rk bound the achievable overlap by 1 + min(|a|−rk_a, |b|−rk_b),
    * which must reach the required α = t·(|a|+|b|)/(1+t)) prune
    * further before the verify join. Both are provably lossless: all
    * common tokens of a qualifying pair order at-or-after the pair's
    * MINIMAL shared prefix token, whose row therefore passes the
    * bound. No global rank is materialized: the order key
    * (df, shingle) is attached by one broadcast-free equi-join on
    * shingle and compared directly, so no single-reducer window
    * exists anywhere. Shuffles: shingle agg (df), per-doc prefix
    * window (partitioned by doc_id), candidate equi-join on prefix
    * shingle, and a doc-keyed verify join per pair side — the verify
    * is a projection over per-doc shingle arrays, never a re-exploded
    * (doc, shingle) aggregate (measured: the exploded form was 83% of
    * the sf10 wall).
    */
  def ppjoin(docs: DataFrame, n: Int = 3,
             minJaccard: Double = 0.5): DataFrame = {
    val cand = ppjoinCandidates(docs, n, minJaccard)
    // verify: exact overlap for candidate pairs only, as a PROJECTION
    // over per-doc sorted shingle arrays (size ∘ array_intersect) —
    // NOT a re-explode. The exploded form shuffled candidates ×
    // |shingles| rows (≈ 690M at the synthesized sf10) into a fixed-
    // width aggregate and spilled: measured 143 s of dedup_ppjoin's
    // 173 s sf10 wall lived in that verify while candidates and true
    // pairs both scale exactly linearly (687k/6.9M candidates,
    // 2.5k/25.6k pairs at sf1/sf10). The array form ships ONE row per
    // candidate per join (the array payload rides the row), needs no
    // aggregate state at all, and computes the same distinct-set
    // overlap (shingleRows is distinct; array_intersect of distinct
    // sorted arrays has identical cardinality to the equi-join count).
    // common >= 1 pins the old inner equi-join semantics at the
    // degenerate minJaccard = 0.0 edge (a zero-overlap candidate had
    // no join row in the exploded form, so it must not surface here)
    verifyCommon(docs, n, cand)
      .filter(col("common") >= 1)
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("nsh_a") + col("nsh_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** The shared candidate-pair verify: per-doc sorted distinct shingle
    * arrays joined to each pair side, overlap = size(array_intersect).
    * Expects `cand` with (doc_a, doc_b) and passes any extra columns
    * through; emits `common` (BIGINT) alongside nsh_a/nsh_b taken from
    * the arrays' sizes when the pair relation does not carry them.
    */
  private def verifyCommon(docs: DataFrame, n: Int,
                           cand: DataFrame): DataFrame = {
    val sets = shingleRows(docs, n)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("shingle"))).as("sh"))
    val withNsh = cand.columns.contains("nsh_a")
    // SHUFFLE_HASH on the per-doc array side: a sort-merge join would
    // SORT the fat candidate stream (pairs × array payload) per task;
    // hashing builds on the doc-keyed side (corpus/width rows) and
    // streams the pairs untouched — the fact-join discipline
    val a = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        .hint("shuffle_hash"), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
        .hint("shuffle_hash"), "doc_b")
    val base = a.withColumn("common",
      size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
    (if (withNsh) base
     else base
       .withColumn("nsh_a", size(col("sh_a")).cast("long"))
       .withColumn("nsh_b", size(col("sh_b")).cast("long")))
      .drop("sh_a", "sh_b")
  }

  /** [[ppjoin]]'s candidate pairs BEFORE the verify step — exposed so
    * the position filter's pruning is measurable (and switchable off,
    * which degrades the candidate rule to AllPairs grade). Two
    * lossless overlap upper bounds gate each pair, both evaluated on
    * the per-pair AGGREGATE of its shared prefix tokens:
    *
    *  - position bound at the MINIMAL shared prefix token w₀ (Xiao et
    *    al. WWW'08 §3): every common token orders at-or-after w₀, so
    *    overlap ≤ 1 + min(|a|−rk_a(w₀), |b|−rk_b(w₀));
    *  - group bound at the MAXIMAL shared prefix token w₁: any common
    *    token ordering before w₁ sits strictly inside BOTH prefixes
    *    (its per-doc rank is below w₁'s, which is itself ≤ the prefix
    *    length), hence is one of the c shared prefix tokens — so
    *    overlap ≤ c + min(|a|−rk_a(w₁), |b|−rk_b(w₁)). This is the
    *    declarative analogue of the overlap accumulator PPJoin's
    *    hash-map verify carries, and is strictly tighter whenever the
    *    span between w₀ and w₁ contains unshared prefix tokens.
    *
    * Both run as `ubound·(1+t) ≥ t·(|a|+|b|) − 1e-9`: for the
    * thresholds in use both sides are exact in doubles, and the 1e-9
    * slack guarantees no boundary TRUE pair is ever pruned by a
    * rounding artifact even for irrational-in-binary t — losslessness
    * is never entrusted to float rounding.
    */
  def ppjoinCandidates(docs: DataFrame, n: Int, minJaccard: Double,
                       positionFilter: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = shingleRows(docs, n)
    val sizes = rows.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val dfreq = rows.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val ordered = rows.join(dfreq, "shingle").join(sizes, "doc_id")
    // prefix length p = nsh - ceil(t*nsh) + 1, per-doc window only;
    // rk (the position under the (df, shingle) total order) rides
    // along for the position bounds
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("shingle"))
    val prefix = ordered
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <=
        col("nsh") - ceil(col("nsh") * lit(minJaccard)) + lit(1))
      .select(col("doc_id"), col("shingle"), col("nsh"), col("rk"))
    // one join — shared prefix shingle + symmetric length filter + the
    // per-row w₀ bound, streamed inside the join (the row bound is the
    // volume control: without it the downstream aggregate sees the
    // AllPairs-grade pair space, which is exactly the sf10 OOM the
    // filter exists to prevent). A TRUE pair's global-minimal shared
    // token always passes its own bound, so it is never lost here.
    val rowBound =
      (lit(1L) + least(col("a.nsh") - col("a.rk"),
        col("b.nsh") - col("b.rk"))).cast("double") *
        lit(1.0 + minJaccard) >=
        lit(minJaccard) * (col("a.nsh") + col("b.nsh")).cast("double") -
          lit(1e-9)
    val joined = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("b.nsh") * lit(minJaccard) <= col("a.nsh") &&
          col("a.nsh") * lit(minJaccard) <= col("b.nsh") &&
          (if (positionFilter) rowBound else lit(true)))
    if (!positionFilter)
      return joined
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.nsh").as("nsh_a"), col("b.nsh").as("nsh_b"))
        .distinct()
    // The aggregate replaces the old distinct() at the same key and
    // volume. Losslessness of the group bound over the row-bound
    // SURVIVORS: the row-bound value is monotone non-increasing in the
    // (df, shingle) order (later tokens have fewer remaining), so the
    // surviving set F is prefix-closed — every shared prefix token
    // ordering at-or-before w₁' = max(F) also survives. Hence c
    // counts ALL common tokens ≤ w₁' exactly, and
    // overlap ≤ c + min(|a|−rk_a(w₁'), |b|−rk_b(w₁')).
    val stats = joined
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.nsh").as("nsh_a"), col("b.nsh").as("nsh_b"))
      .agg(count(lit(1)).as("c"),
        min(col("a.rk")).as("rka0"), min(col("b.rk")).as("rkb0"),
        max(col("a.rk")).as("rka1"), max(col("b.rk")).as("rkb1"))
    val ubound = least(
      lit(1L) + least(col("nsh_a") - col("rka0"), col("nsh_b") - col("rkb0")),
      col("c") + least(col("nsh_a") - col("rka1"), col("nsh_b") - col("rkb1")))
    stats
      .filter(ubound.cast("double") * lit(1.0 + minJaccard) >=
        lit(minJaccard) * (col("nsh_a") + col("nsh_b")).cast("double") -
          lit(1e-9))
      .select(col("doc_a"), col("doc_b"), col("nsh_a"), col("nsh_b"))
  }

  /** PPJoin pruning audit: every candidate pair the prefix + length +
    * position filters admit, verified — `kept = false` rows are the
    * filter stack's residual false positives, so the table measures
    * candidate-generation PRECISION under the oracle gate (the
    * recall side is already proven: ppjoin equals the all-pairs
    * reference row-for-row in `PpjoinSpec`). The candidate rule —
    * including the (df, shingle) total order, the prefix length
    * n − ⌈t·n⌉ + 1, and the position bound — is mirrored verbatim in
    * SQL, so a drift in ANY filter turns the row red, not just a
    * drift in the final pair set.
    *
    * Scale shape: identical to [[ppjoin]] (this IS ppjoin with the
    * verify emitted instead of filtered) — prefix-bounded candidate
    * join, array-intersect projection verify, no global rank, no
    * cartesian. Every candidate shares a prefix token by
    * construction, so common ≥ 1 and no audit row can be a
    * zero-overlap artifact of the projection form.
    */
  def ppjoinAudit(docs: DataFrame, n: Int = 3,
                  minJaccard: Double = 0.5): DataFrame = {
    val cand = ppjoinCandidates(docs, n, minJaccard)
    verifyCommon(docs, n, cand)
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("nsh_a") + col("nsh_b") - col("common")).cast("double"))
      .withColumn("kept", col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("common"),
        col("jaccard"), col("kept"))
  }

  /** Sorted-neighborhood dedup (Hernández & Stolfo, SIGMOD 1995) —
    * the third classic blocking family next to LSH banding and
    * (band, char) blocking: sort the corpus by a normalized key
    * (here the lowercased text), slide a `window`-row neighborhood
    * down the sorted order, and exact-verify only pairs within it.
    * Complements prefix filtering where near-duplicates share a long
    * common PREFIX of the sort key (truncations, append-only edits)
    * even when their shingle Jaccard bands would miss.
    *
    * Scale design: the global rank is NOT a single-reducer window —
    * it is the two-level [[graft.operators.TextAnalysis]] prefix-sum
    * shape with RANGE-SAMPLED bucket boundaries (see [[snGlobalRank]];
    * a fixed key-prefix rule would collapse a shared-boilerplate
    * corpus into one bucket = one reducer). Neighborhood pairs come
    * from TWO equi-joins on the rank group g = rk div window
    * (same-group and adjacent-group — lossless for distance ≤ window
    * by construction), never a range join; the verify is [[ppjoin]]'s
    * shared array-intersect projection.
    */
  def sortedNeighborhood(docs: DataFrame, n: Int = 3, window: Int = 4,
                         minJaccard: Double = 0.6): DataFrame = {
    require(window >= 1, "neighborhood width")
    val ranked = snGlobalRank(docs)
      .select(col("doc_id"), col("rk"),
        expr(s"rk div $window").as("g"))
    val a = ranked.select(col("doc_id").as("id_a"), col("rk").as("ra"),
      col("g"))
    val b = ranked.select(col("doc_id").as("id_b"), col("rk").as("rb"),
      col("g").as("gb"))
    val cand = a.join(b, col("g") === col("gb"))
      .unionByName(a.join(b, col("g") + 1 === col("gb")))
      .filter(col("rb") > col("ra") && col("rb") <= col("ra") + window)
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"))
    // pair-scoped verify as the shared array-intersect projection
    // (see [[ppjoin]] — the exploded re-join form spilled at sf10);
    // common >= 1 keeps the old inner equi-join semantics exactly:
    // zero-overlap neighbors produced NO row there, so they must not
    // surface here even at the degenerate minJaccard = 0.0
    verifyCommon(docs, n, cand)
      .filter(col("common") >= 1)
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("nsh_a") + col("nsh_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Distributed global ROW_NUMBER over (lower(text), doc_id) — the
    * two-level rank behind [[sortedNeighborhood]]. Buckets come from
    * `repartitionByRange` on the FULL (k, doc_id) sort key: the range
    * exchange reservoir-samples the actual keys for its boundaries
    * (Spark's RangePartitioner), so a corpus where every document
    * shares a long boilerplate prefix still splits across buckets —
    * the failure mode of any fixed key-prefix rule. Partition ids are
    * monotone in the range order, so bucket-prefix counts + a
    * within-bucket ROW_NUMBER over (k, doc_id) compose to exactly the
    * oracle's one global ROW_NUMBER; the final rank is invariant to
    * WHICH boundaries the sample picked, which is why a sampled rule
    * can sit under a bit-exact cross-engine gate at all.
    *
    * The within-bucket rank is NOT a second window over the text: the
    * range exchange already leaves every partition holding exactly one
    * bucket, so `sortWithinPartitions(k, doc_id)` followed by
    * [[Ranks.bucketLocal]] (spark_partition_id + the low 33 bits of
    * monotonically_increasing_id — the zipWithIndex idiom, guarded
    * against counter wrap at the offsets aggregation; the id is
    * nondeterministic, so the optimizer cannot reorder it below the
    * sort) yields the bucket id and the within-bucket ROW_NUMBER in
    * the SAME pass, with zero additional shuffle of the text.
    *
    * The ranked relation is lazily localCheckpoint-ed because TWO
    * consumers read it (the per-bucket counts and the final join):
    * without pinning, each consumer re-executes the range exchange,
    * RangePartitioner re-samples per execution, and offsets from one
    * sampling composed with local ranks from another would corrupt
    * the rank. One-shot materialization (MEMORY_AND_DISK, spills),
    * not the per-round accumulation the textrank notes warn about.
    */
  private[graft] def snGlobalRank(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = math.max(1, docs.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt)
    val keyed = Ranks.bucketLocal(
        docs.select(col("doc_id"), lower(col("text")).as("k"))
          .repartitionByRange(parts, col("k"), col("doc_id"))
          .sortWithinPartitions(col("k"), col("doc_id")))
      .localCheckpoint(eager = false)
    val offsets = keyed.groupBy(col("__bucket"))
      .agg(Ranks.guardedBucketCount.as("__bn"))
      .withColumn("__boff", coalesce(
        sum(col("__bn")).over(Window.orderBy(col("__bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__bn")
    keyed.join(broadcast(offsets), "__bucket")
      .withColumn("rk", col("__boff") + col("__lrk"))
      .select(col("doc_id"), col("k"), col("rk"), col("__bucket"))
  }

  /** Recall self-evaluation of [[minhashLsh]] — the third leg of the
    * recall-audit family (edit-distance, SimHash, MinHash): every
    * TRUE pair at exact Jaccard ≥ `minJaccard` (from the all-pairs
    * [[ngramJaccard]] reference, a shingle equi-join — not a
    * cartesian) tagged with whether the banded LSH path finds it.
    * `found = false` rows decompose the theoretical S-curve miss
    * probability (1 − (1 − s^r)^b at similarity s) plus any rank-cap
    * truncation into per-pair facts; read next to
    * [[minhashEstimate]], which audits the ESTIMATOR on the pairs
    * LSH did find, this closes the loop on the signature design.
    *
    * TEST-TIER like its truth side: inherits [[ngramJaccard]]'s
    * `maxInputRows` refusal; [[minhashLsh]] is the scale path.
    */
  def minhashRecall(docs: DataFrame, n: Int = 3,
                    minJaccard: Double = 0.5,
                    maxInputRows: Long = 100000L): DataFrame = {
    val truth = ngramJaccard(docs, n, minJaccard, maxInputRows)
    val found = minhashLsh(docs, n, minJaccard)
      .select(col("doc_a"), col("doc_b"), lit(true).as("found_flag"))
    truth.join(found, Seq("doc_a", "doc_b"), "left_outer")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        coalesce(col("found_flag"), lit(false)).as("found"))
  }

  /** Recall self-evaluation of [[winnowOverlap]] against the Schleimer
    * et al. 2003 GUARANTEE: any shared run of ≥ w + k − 1 consecutive
    * tokens contains a full window of shared k-grams, whose minimum
    * hash is selected as a fingerprint in BOTH documents — so the
    * truth side is simply "pairs sharing any (w+k−1)-token contiguous
    * gram" (a [[shingleRows]] equi-join at n = w+k−1, never a
    * cartesian). The ONLY admissible misses are pairs whose every
    * shared fingerprint is ubiquitous (> maxDocsPerFp docs — the
    * boilerplate bound); `found = false` rows price that bound.
    */
  def winnowRecall(docs: DataFrame, k: Int = 3, w: Int = 4,
                   maxDocsPerFp: Int = 64,
                   maxInputRows: Long = 100000L): DataFrame = {
    require(docs.limit((maxInputRows + 1).toInt).count() <= maxInputRows,
      s"winnowRecall's truth side is an all-pairs gram join (input " +
        s"exceeds $maxInputRows rows): audit a sample, or raise " +
        s"maxInputRows explicitly")
    val grams = shingleRows(docs, k + w - 1)
    val truth = grams.as("a")
      .join(grams.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val found = winnowOverlap(docs, k, w, maxDocsPerFp)
      .select(col("doc_a"), col("doc_b"), lit(true).as("found_flag"))
    truth.join(found, Seq("doc_a", "doc_b"), "left_outer")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("found_flag"), lit(false)).as("found"))
  }

  /** Recall self-evaluation of [[minhashLshContainment]]: exact
    * containment truth (|A∩B| / min(|A|,|B|) ≥ t via the shingle
    * equi-join — the same not-a-cartesian shape as [[ngramJaccard]])
    * LEFT JOIN the banded path. Containment is the asymmetric case
    * where MinHash's Jaccard-tuned S-curve is OFF-DESIGN (a small
    * doc fully contained in a large one has high containment but low
    * Jaccard, so band collisions are rarer) — this table measures
    * what that mismatch actually costs on the corpus.
    */
  def containmentRecall(docs: DataFrame, n: Int = 3,
                        minContainment: Double = 0.6,
                        maxInputRows: Long = 100000L): DataFrame = {
    val truth = shinglePairCommon(docs, n, maxInputRows,
      "containmentRecall's truth side", "minhashLshContainment")
      .withColumn("containment",
        col("common").cast("double") /
          least(col("nsh_a"), col("nsh_b")).cast("double"))
      .filter(col("containment") >= minContainment)
      .select(col("doc_a"), col("doc_b"), col("containment"))
    val found = minhashLshContainment(docs, n, minContainment)
      .select(col("doc_a"), col("doc_b"), lit(true).as("found_flag"))
    truth.join(found, Seq("doc_a", "doc_b"), "left_outer")
      .select(col("doc_a"), col("doc_b"), col("containment"),
        coalesce(col("found_flag"), lit(false)).as("found"))
  }

  /** Block-combination SimHash banding (Manku, Jain & Das Sarma,
    * "Detecting Near-Duplicates for Web Crawling", WWW'07 §3): the
    * 32-bit signature splits into 8 blocks of 4 bits and candidates
    * share the concatenation of SOME PAIR of blocks — one bucket join
    * per C(8,2) = 28 block pairs, realized as ONE exploded
    * (table, key) relation and ONE equi-join, not 28 plan branches.
    * PIGEONHOLE-LOSSLESS for Hamming ≤ 6 (pre-cap): ≤ 6 differing
    * bits touch ≤ 6 of the 8 blocks, leaving ≥ 2 clean blocks, and
    * that exact pair of clean blocks is one of the 28 tables — unlike
    * the rotation heuristic ([[simhashNearDupMulti]]), whose measured
    * recall on this corpus is ~25–33% (`dedup_simhash_recall`),
    * because near-miss pairs spread their differing bits across every
    * contiguous 16-bit window.
    *
    * Scale: each doc emits exactly 28 (table, key) rows; every
    * (table, key) bucket is rank-capped at `maxBucket` (the capped-LSH
    * discipline — candidate pairs are bounded by
    * 28 · 256 · maxBucket² regardless of corpus size), and Hamming
    * verifies once per distinct pair on the full signature.
    */
  def simhashNearDupBlocked(docs: DataFrame, maxHamming: Int = 6,
                            maxBucket: Int = MaxBucket): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxHamming <= 6,
      "8 blocks of 4 bits are pigeonhole-lossless only to Hamming 6")
    val sh = simhash(docs).localCheckpoint(eager = false)
    val tabs = for { i <- 0 until 8; j <- (i + 1) until 8 } yield (i, j)
    val tkArr = array(tabs.zipWithIndex.map { case ((i, j), t) =>
      struct(lit(t).as("tab"),
        (shiftright(col("simhash"), 4 * i).bitwiseAND(lit(15L)) * 16L +
          shiftright(col("simhash"), 4 * j).bitwiseAND(lit(15L))).as("key"))
    }: _*)
    val keyed = sh.select(col("doc_id"), explode(tkArr).as("tk"))
      .select(col("doc_id"), col("tk.tab").as("tab"), col("tk.key").as("key"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("tab"), col("key")).orderBy(col("doc_id"))))
      .filter(col("rn") <= maxBucket)
    val cands = keyed.as("a")
      .join(keyed.as("b"),
        col("a.tab") === col("b.tab") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cands
      .join(sh.select(col("doc_id").as("doc_a"), col("simhash").as("sa")),
        "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("simhash").as("sb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Recall self-evaluation of [[simhashNearDupMulti]]: every TRUE
    * pair within full-signature Hamming `maxHamming` — brute force
    * over the 32-bit signatures, which are one BIGINT per doc, so
    * the quadratic truth side is a popcount compare, not a text
    * compare — tagged with whether the multi-rotation banding finds
    * it. `found = false` rows are the measured escapes: pairs whose
    * differing bits straddle the top half of EVERY rotation.
    *
    * TEST-TIER like [[ngramJaccard]]: refuses corpora above
    * `maxInputRows`; the blocked operator is the scale path, this
    * table is the evidence for how much recall the banding trades.
    */
  def simhashRecall(docs: DataFrame, maxHamming: Int = 6,
                    rotations: Int = 2,
                    maxInputRows: Long = 20000L): DataFrame =
    simhashRecallAgainst(docs,
      simhashNearDupMulti(docs, maxHamming, rotations),
      maxHamming, maxInputRows)

  /** [[simhashRecall]] for the block-combination banding: the
    * pigeonhole losslessness claim of [[simhashNearDupBlocked]],
    * MEASURED (rows where the rank caps truncated a hot bucket are
    * the only possible `found = false` entries).
    */
  def simhashRecallBlocked(docs: DataFrame, maxHamming: Int = 6,
                           maxInputRows: Long = 20000L): DataFrame =
    simhashRecallAgainst(docs,
      simhashNearDupBlocked(docs, maxHamming),
      maxHamming, maxInputRows)

  private def simhashRecallAgainst(docs: DataFrame, path: DataFrame,
                                   maxHamming: Int,
                                   maxInputRows: Long): DataFrame = {
    require(docs.limit((maxInputRows + 1).toInt).count() <= maxInputRows,
      s"simhash recall's truth side is all-pairs over the signatures " +
        s"(input exceeds $maxInputRows rows): audit a sample, or raise " +
        s"maxInputRows explicitly")
    val sh = simhash(docs).localCheckpoint(eager = false)
    val truth = sh.as("a")
      .join(broadcast(sh.as("b")), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    val found = path
      .select(col("doc_a"), col("doc_b"), lit(true).as("found_flag"))
    truth.join(found, Seq("doc_a", "doc_b"), "left_outer")
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        coalesce(col("found_flag"), lit(false)).as("found"))
  }

  /** Blocked edit-distance dedup (record-linkage style): document
    * pairs whose lowercased text is within exact Levenshtein distance
    * `maxDist`, with the pair space pruned by blocking instead of an
    * all-pairs cross.
    *
    * Block key = (pass, ⌊len/bandWidth⌋, char) over TWO blocking
    * passes — pass 0 keys on the FIRST char, pass 1 on the LAST — and
    * a pair survives if either pass co-blocks it. A pair within
    * distance d differs in length by at most d < bandWidth, so the two
    * lengths land in the same or adjacent bands — each side probes
    * {band, band+1}, making the length blocking LOSSLESS. Single-char
    * blocking is the residual approximation: one pass misses a pair
    * whose edit touches its key position, so the first+last union only
    * misses pairs edited at BOTH ends (≥2 of the ≤ maxDist edits spent
    * on the two anchor chars) — the escape class the single-pass
    * version documented, halved in edit budget for 2× probe cost.
    * Each (pass, band, char) block is rank-capped at the `maxBlock`
    * smallest doc_ids — the same deterministic hot-bucket truncation
    * as the LSH paths, mirrored in the oracle with QUALIFY so parity
    * is exact by construction.
    *
    * Scale: each text emits 4 probe keys (2 passes × 2 bands); the
    * self-join shuffles on the block key; O(maxDist·n) thresholded
    * levenshtein runs only inside capped blocks, so per-task cost is
    * bounded by maxBlock² regardless of skew.
    */
  def editDistancePairs(docs: DataFrame,
                        maxDist: Int = 8,
                        bandWidth: Int = 16,
                        maxBlock: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bandWidth > maxDist, "band blocking is lossless only when " +
      s"bandWidth ($bandWidth) > maxDist ($maxDist)")
    // letter histogram for the COUNTING FILTER (Ukkonen's q-gram idea
    // at q=1): a substitution moves two letter counts, an insert or
    // delete moves one, so dist ≥ Σ_c|cnt_a(c)−cnt_b(c)| / 2 — over
    // ANY alphabet subset (a–z here). A 26-int compare prunes most
    // non-pairs before the O(maxDist·n) levenshtein verify, losslessly.
    val hist = array(('a' to 'z').map { c =>
      (length(col("k")) -
        length(expr(s"replace(k, '$c', '')"))).cast("int")
    }: _*)
    val keyed = docs.select(col("doc_id"), lower(col("text")).as("k"))
      .withColumn("band", floor(length(col("k")) / lit(bandWidth)))
      .withColumn("hist", hist)
    val passes = keyed.select(col("doc_id"), col("k"), col("band"), col("hist"),
        explode(array(
          struct(lit(0).as("pass"), substring(col("k"), 1, 1).as("ch")),
          struct(lit(1).as("pass"),
            expr("substring(k, greatest(length(k), 1), 1)").as("ch"))))
          .as("p"))
      .select(col("doc_id"), col("k"), col("band"), col("hist"),
        col("p.pass").as("pass"), col("p.ch").as("ch"))
    val probes = passes.select(col("doc_id"), col("k"), col("hist"),
        col("pass"), col("ch"),
        explode(array(col("band"), col("band") + 1)).as("band"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("pass"), col("band"), col("ch"))
          .orderBy(col("doc_id"))))
      .filter(col("rk") <= maxBlock)
    // the length prefilter is lossless (dist ≥ |len(a) − len(b)|) and
    // the THRESHOLDED levenshtein early-abandons at maxDist+1 — an
    // O(maxDist·n) band computation instead of the full O(n·m) table
    // (returns −1 past the threshold; kept rows carry true distances,
    // so the unthresholded oracle agrees row-for-row). Measured 70×
    // on sf0.1: 233 s → 3.3 s. Candidates dedupe on the PAIR KEY
    // BEFORE the levenshtein projection — via groupBy + first (k is
    // determined by doc_id), NOT distinct-then-filter: Catalyst
    // pushes a deterministic filter back THROUGH a distinct into the
    // join condition (measured: the levenshtein landed FIRST in the
    // join's conjunction, re-running per collision), while an
    // aggregate whose outputs the filter references is a pushdown
    // barrier. The verify then runs once per pair.
    val histDiff = aggregate(
      zip_with(col("a.hist"), col("b.hist"), (x, y) => abs(x - y)),
      lit(0), (acc, x) => acc + x)
    probes.as("a")
      .join(probes.as("b"),
        col("a.pass") === col("b.pass") &&
          col("a.band") === col("b.band") && col("a.ch") === col("b.ch") &&
          col("a.doc_id") < col("b.doc_id") &&
          abs(length(col("a.k")) - length(col("b.k"))) <= maxDist &&
          histDiff <= lit(2 * maxDist))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.k").as("ka"), col("b.k").as("kb"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(first(col("ka")).as("ka"), first(col("kb")).as("kb"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ka"), col("kb"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
  }

  /** Recall self-evaluation of [[editDistancePairs]] (the
    * minhashEstimate / sim_pq_recall pattern applied to the blocked
    * edit-distance join): every TRUE pair within Levenshtein
    * `maxDist` — computed by brute force — tagged with whether the
    * blocked path finds it. The first+last-char blocking provably
    * misses only pairs edited at BOTH anchor ends; this table turns
    * that documented escape class from an argument into a measured
    * number (`found = false` rows ARE the escapes).
    *
    * TEST-TIER like [[ngramJaccard]]: the truth side is an all-pairs
    * broadcast join (never a partitioned cartesian) and REFUSES
    * corpora above `maxInputRows` — the audit runs on a bounded
    * sample, the blocked operator is the scale path. The quadratic
    * predicate space is pruned losslessly before any Levenshtein by
    * the length filter (dist ≥ |len(a)−len(b)|) and the q=1 counting
    * filter (dist ≥ Σ_c |cnt_a(c)−cnt_b(c)| / 2), so the O(maxDist·n)
    * verify touches only near-miss pairs.
    */
  def editDistanceRecall(docs: DataFrame,
                         maxDist: Int = 8,
                         bandWidth: Int = 16,
                         maxBlock: Int = 64,
                         maxInputRows: Long = 20000L): DataFrame = {
    require(docs.limit((maxInputRows + 1).toInt).count() <= maxInputRows,
      s"editDistanceRecall's truth side is all-pairs (input exceeds " +
        s"$maxInputRows rows): audit a sample, or raise maxInputRows " +
        s"explicitly")
    val hist = array(('a' to 'z').map { c =>
      (length(col("k")) -
        length(expr(s"replace(k, '$c', '')"))).cast("int")
    }: _*)
    val keyed = docs.select(col("doc_id"), lower(col("text")).as("k"))
      .withColumn("hist", hist)
    val histDiff = aggregate(
      zip_with(col("a.hist"), col("b.hist"), (x, y) => abs(x - y)),
      lit(0), (acc, x) => acc + x)
    val truth = keyed.as("a")
      .join(broadcast(keyed.as("b")),
        col("a.doc_id") < col("b.doc_id") &&
          abs(length(col("a.k")) - length(col("b.k"))) <= maxDist &&
          histDiff <= lit(2 * maxDist))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.k"), col("b.k"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
    val found = editDistancePairs(docs, maxDist, bandWidth, maxBlock)
      .select(col("doc_a"), col("doc_b"), lit(true).as("found_flag"))
    truth.join(found, Seq("doc_a", "doc_b"), "left_outer")
      .select(col("doc_a"), col("doc_b"), col("dist"),
        coalesce(col("found_flag"), lit(false)).as("found"))
  }
}
