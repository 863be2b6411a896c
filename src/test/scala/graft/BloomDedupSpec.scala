package graft

import graft.operators.Dedup

/** Incremental Bloom-prefiltered dedup: exact results (duplicates in,
  * novels out — including Bloom false positives killed by the confirm
  * join), case normalization, and the no-corpus-shuffle plan shape.
  */
class BloomDedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = Seq(
    (1L, "the quick brown fox"),
    (2L, "jumps over the lazy dog"),
    (3L, "pack my box with five dozen jugs")
  ).toDF("doc_id", "text")

  test("flags exact and case-insensitive duplicates, drops novel docs") {
    val newBatch = Seq(
      (10L, "the quick brown fox"),        // exact dupe
      (11L, "JUMPS OVER THE LAZY DOG"),    // dupe modulo lower()
      (12L, "an entirely novel document"), // novel
      (13L, "the quick brown foxes")       // near-miss, still novel
    ).toDF("doc_id", "text")
    val got = Dedup.dedupAgainstCorpus(newBatch, corpus, 100L, 0.01)
      .select("doc_id").as[Long].collect().toSet
    assert(got === Set(10L, 11L))
  }

  test("high fpp still yields exact results (confirm join kills FPs)") {
    // fpp = 0.5 makes Bloom false positives likely across 200 novels;
    // the confirm join must still reject every one
    val newBatch = (100 until 300).map(i => (i.toLong, s"novel doc number $i"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupAgainstCorpus(newBatch, corpus, 3L, 0.5)
    assert(got.count() === 0L)
  }

  test("corpus streams through a broadcast join, never a shuffle join") {
    val newBatch = Seq((10L, "the quick brown fox")).toDF("doc_id", "text")
    val plan = Dedup.dedupAgainstCorpus(newBatch, corpus, 100L, 0.01)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      plan)
  }
}
