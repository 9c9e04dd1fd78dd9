package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Manber–Myers prefix-doubling over token positions — THE shared
  * suffix-machinery core (one definition, so llm_suffix_array and
  * llm_exactsubstr_scrub cannot de-synchronize on the sentinel or
  * checkpoint discipline): rank every (doc, position) by its first
  * `L` tokens in ⌈log₂ L⌉ rounds. Base rank = global dense rank of
  * the single token; rank_{2k}(p) = dense rank of (rank_k(p),
  * rank_k(p+k)), past-end rank 0 so shorter suffixes sort first —
  * exactly array-lexicographic order, and rank-EQUALITY ⇔ identical
  * first-min(L, remaining) tokens (the duplication proof the scrub
  * consumes; exact where window hashes would collide).
  *
  * Scale shape: only (doc_id, pos, int64-rank) triples shuffle per
  * round — never substrings; dense ranks come from
  * [[DistributedRank]] (range-partition + offsets, no
  * single-partition window); per-round localCheckpoint truncates the
  * iterative lineage. */
object SuffixRank {

  /** tok = (doc_id, p, tok) with 1-based positions → (doc_id, p, r).
    * `L` must be a power of two.
    *
    * Precondition: positions are contiguous 1..len per doc — no gaps,
    * no duplicates. "The rank at p + k" is read as lead(r, k), so a
    * gapped input (e.g. positions left after a stopword filter) would
    * silently rank the wrong suffixes; the first doubling round
    * asserts it and fails the job instead.
    *
    * r14 (guide §2.4): every ranking step now attaches its dense rank
    * IN PLACE via [[DistributedRank.withGlobalDenseRank]] (one range
    * exchange; equal keys share a partition, per-partition dense_rank
    * + distinct-count offsets). The old shape — distinct → global
    * row_number → join the ranks back — paid a distinct exchange plus
    * a join-back per doubling round (and for the base rank, a
    * corpus-sized string join). Rank VALUES are bit-identical: the
    * same dense 1..R numbering of the same total order, so every
    * downstream consumer (rank-group dedup, sort-adjacency LCP) is
    * unchanged. */
  def prefixDoublingRanks(tok: DataFrame, L: Int): DataFrame = {
    require(L >= 1 && (L & (L - 1)) == 0, s"L must be a power of two, got $L")
    // NO outer localCheckpoint here: withGlobalDenseRank already
    // pins its partitions with a localCheckpoint (it must — the offsets
    // and the final pass must see one physical partitioning), so the
    // per-round state is materialized exactly once and the select on
    // top is a pure projection over the checkpointed RDD. A second eager checkpoint
    // per round re-materialized every row — measured as the whole
    // regression of llm_suffix_array at sf0.1.
    var suf = DistributedRank.withGlobalDenseRank(tok, "r", Seq(col("tok")))
      .select(col("doc_id"), col("p"), col("r"))
    var k = 1
    while (k < L) {
      // r15 (guide §2.4): positions are CONTIGUOUS 1..len within a doc
      // (both callers build them from posexplode), so "the rank at
      // p + k" is exactly lead(r, k) over (doc ORDER BY p) — one hash
      // exchange + per-doc sort instead of the old self-join's TWO
      // exchanges of the whole triple set per doubling round. Null
      // past the end → rank 0, the shorter-suffix-first rule. The
      // window partitions by doc_id — per-task state is one document's
      // positions, bounded by document length like every per-doc
      // operator in the pipeline, never a global funnel.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("p"))
      val next = coalesce(lead(col("r"), k).over(w), lit(0L))
      // the contiguity check rides the first round's window and lives
      // inside `rn`, a rank key, so column pruning cannot drop it
      val rn =
        if (k > 1) next
        else when(row_number().over(w) =!= col("p"), raise_error(concat(
          lit("prefixDoublingRanks: positions must be contiguous 1..len per doc; doc "),
          col("doc_id").cast("string"), lit(" has p="), col("p").cast("string"))))
          .otherwise(next)
      val paired = suf.select(col("doc_id"), col("p"), col("r"), rn.as("rn"))
      suf = DistributedRank.withGlobalDenseRank(paired, "r2",
          Seq(col("r"), col("rn")))
        .select(col("doc_id"), col("p"), col("r2").as("r"))
      k *= 2
    }
    suf
  }
}
