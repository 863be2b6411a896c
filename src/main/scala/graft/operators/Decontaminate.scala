package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the train/eval overlap scan every
  * serious training-data pipeline runs before a corpus ships: find
  * training documents that share enough word n-grams with an
  * evaluation/benchmark document to risk leaking test data into the
  * model (the GPT-3/PaLM-style n-gram collision check).
  *
  * Scale shape: the eval set is SMALL BY CONSTRUCTION (benchmarks are
  * thousands of docs, the corpus is billions), so its distinct
  * shingles broadcast and the train side streams past them map-side —
  * the train corpus is never self-joined and never shuffled on
  * content. The only shuffle is the (train doc, eval doc) pair
  * aggregation, whose volume is proportional to actual collisions,
  * not corpus size.
  */
object Decontaminate {

  /** (train doc, eval doc) pairs sharing ≥ `minOverlap` distinct
    * `n`-grams, with the overlap count. Shingling mirrors
    * [[Dedup.shingleRows]] exactly, so batch dedup and
    * decontamination agree on tokenization.
    */
  def overlaps(train: DataFrame, evalSet: DataFrame,
               n: Int = 3, minOverlap: Int = 2): DataFrame = {
    val trainSh = Dedup.shingleRows(train, n)
    val evalSh = Dedup.shingleRows(evalSet, n)
      .select(col("doc_id").as("eval_id"), col("shingle"))
    trainSh.join(broadcast(evalSh), "shingle")
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** Per-train-doc verdict: how many eval docs it collides with and
    * the worst overlap — the filter side for a cleaning pipeline
    * (`anti-join docs against contaminated`).
    */
  def contaminated(train: DataFrame, evalSet: DataFrame,
                   n: Int = 3, minOverlap: Int = 2): DataFrame =
    overlaps(train, evalSet, n, minOverlap)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_eval_docs"),
           max(col("n_overlap")).as("max_overlap"))

  /** Per-EVAL-doc audit — the report a benchmark owner reads before
    * trusting a score: for each eval document, how many training docs
    * collide at all, how many of ITS distinct n-grams occur anywhere
    * in the training corpus (`n_seen`), and the headline contamination
    * fraction `n_seen / n_shingles`. The fraction is an exact
    * bigint-over-bigint double.
    *
    * Same scale contract as [[overlaps]]: eval shingles broadcast,
    * the corpus streams past map-side, only real collisions shuffle —
    * `n_seen` is a per-eval `countDistinct` over collision rows, so no
    * corpus-wide shingle distinct is ever built.
    */
  def evalContamination(train: DataFrame, evalSet: DataFrame,
                        n: Int = 3): DataFrame = {
    val evalSh = Dedup.shingleRows(evalSet, n)
      .select(col("doc_id").as("eval_id"), col("shingle"))
    val sizes = evalSh.groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_shingles"))
    val hits = Dedup.shingleRows(train, n)
      .join(broadcast(evalSh), "shingle")
      .groupBy(col("eval_id"))
      .agg(countDistinct(col("doc_id")).as("n_train_docs"),
           countDistinct(col("shingle")).as("n_seen"))
    sizes.join(hits, Seq("eval_id"), "left")
      .select(col("eval_id"), col("n_shingles"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"))
      .withColumn("contamination_frac",
        col("n_seen").cast("double") / col("n_shingles").cast("double"))
  }

  /** EMBEDDING-space decontamination — the semantic complement of the
    * n-gram collision check above (the "fuzzy" eval-overlap audit:
    * paraphrased or translated benchmark items share no n-grams but
    * sit next to the eval set in embedding space): flag every corpus
    * vector whose max cosine against the eval set reaches `tau`.
    *
    * Scale shape — the cheapest possible: the eval set (≤4096 vectors
    * by the anchor rule, benchmarks are small by construction)
    * inlines as literals, so the whole operator is ONE corpus scan
    * with a per-row |eval|-way `greatest` fold of the codegen'd dot —
    * no join, no shuffle, output ∝ flagged rows. The same
    * broadcast-the-eval-side discipline as [[overlaps]], taken to its
    * limit.
    *
    * Determinism: each cosine is [[graft.functions.VectorFunctions
    * .cosine]] — the same left-to-right double fold as every `sim_*`
    * operator, both norms computed at run time — and `greatest` /
    * SQL `MAX` agree on the IEEE total order, so the flagged set and
    * the reported maxima are oracle-exact. (Doc applies to
    * [[semanticDecontaminate]] below.)
    */
  /** Eval vectors collected to driver literals, bounds-checked — the
    * broadcast-the-eval-side step of [[semanticDecontaminate]].
    */
  private def evalVectors(evalSet: DataFrame): Array[Array[Double]] = {
    import graft.functions.VectorFunctions.asDouble
    val ev = evalSet
      .select(col("vec_id"), asDouble(col("embedding"))).collect()
      .map(_.getSeq[Double](1).toArray)
    require(ev.nonEmpty && ev.length <= 4096,
      s"eval set must be 1..4096 vectors, got ${ev.length}")
    ev
  }

  /** Greatest eval-cosine of row vector `v` (with its norm hoisted
    * into `nv` so each of the up-to-4096 cosines costs one dot, not
    * dot + a redundant norm(v) per eval vector — non-cheap expressions
    * referenced more than once survive CollapseProject, so `nv`
    * evaluates once per row). Each cosine is the same dot/(norm·norm)
    * IEEE tree as every `sim_*` operator.
    */
  private def bestEvalSim(ev: Array[Array[Double]],
                          v: Column, nv: Column): Column = {
    import graft.functions.VectorFunctions.{dot, norm}
    val sims = ev.map(qv => dot(v, lit(qv)) / (nv * norm(lit(qv)))).toSeq
    if (sims.length == 1) sims.head else greatest(sims: _*)
  }

  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
                            tau: Double): DataFrame = {
    import graft.functions.VectorFunctions.{asDouble, norm}
    val ev = evalVectors(evalSet)
    corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nv", norm(col("v")))
      .withColumn("max_eval_sim", bestEvalSim(ev, col("v"), col("nv")))
      .filter(col("max_eval_sim") >= lit(tau))
      .select(col("vec_id"), col("max_eval_sim"))
  }
}
