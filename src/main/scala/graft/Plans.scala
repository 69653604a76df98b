package graft

import java.nio.file.{Files, Paths}

/** Writes PLANS.md: the formatted physical plan of each headline query at
  * the given SF — the audit trail for the scale claims (pushdown, pruned
  * schemas, broadcast vs sort-merge, codegen spans, exchange count).
  * Usage: runMain graft.Plans [sfDir] [outFile]
  */
object Plans {
  val Headline = Seq(
    "q01_agg", "q02_filter_project", "q03_join_broadcast", "q04_join_shuffle",
    "q05_multi_join", "q09_topk", "q12_approx_distinct", "q19_bucketed_join",
    "q28_asof_join", "q30_dedup_exact",
    "q31_dedup_minhash", "q32_dedup_simhash", "q33_ngram_jaccard",
    "q34_knn_brute", "q35_embed_neardup", "q88_neardup_wide",
    "q36_knn_lsh", "q41_fingerprint",
    "q43_knn_ivf", "q44_bucketed_star", "q45_curate", "q46_hopping",
    "q47_percentile", "q48_stats", "q49_window_nav", "q50_wordcount",
    "q51_unpivot", "q52_outer_join", "q54_knn_pq", "q55_dedup_clusters",
    "q56_tfidf", "q57_bm25", "q58_sample_stratified", "q59_cluster_summary",
    "q60_contamination", "q61_repetition", "q62_split_manifest",
    "q63_length_trim", "q64_line_dedup", "q65_semdedup", "q66_fuzzy_match",
    "q67_pii_redact", "q68_lm_score", "q69_curate_full",
    "q70_incremental_dedup", "q71_pack_sequences", "q72_mixture_manifest",
    "q73_normalize", "q74_knn_accuracy", "q76_funnel", "q77_retention",
    "q78_chunk", "q79_snapshot_diff", "q80_decontaminate", "q82_profile",
    "q83_hist", "q84_dup_spans", "q85_rate_z", "q86_heavy_hitters",
    "q87_weighted_sample")
  /** Extra-registry headliners (r20): the lazily-planned gates of the
    * round's new operator families, audited exactly like the main
    * registry. Eagerly-executing ops (fleissKappa, krippendorffAlpha,
    * Conformal.threshold, dawidSkene — driver-side probes/EM before a
    * result plan exists) are absent for the q75/q81 reason: the
    * residual plan audits nothing; their scale arguments live in
    * scaladoc + specs. weightedVote/rater gates run a validation probe
    * job first (the q87 pattern) — the audited plan is the main pass.
    */
  val ExtraHeadline = Seq(
    "x_kanon", "x_tcloseness", "x_dp_counts", "x_pseudonymize",
    "x_novelty", "x_entropy", "x_bestofn", "x_weighted_vote",
    "x_blocking_summary", "x_completeness")

  // q21_consume_from_offset and q22_time_travel left the registry in
  // r13 (slot swaps to q86 and q87; both shapes were filters over
  // q20's offset frame) — spec-gated differentially in EventOpsSpec.
  // q75_pagerank is deliberately absent: Graph.pageRank executes eagerly
  // at build time (the co-partitioned RDD iteration materializes before
  // a plan exists), so its "plan" is just a scan of the result RDD —
  // nothing to audit here; the per-iteration shape is documented in
  // Graph.scala and differentially tested in GraphSpec.
  // q81_bpe is absent for the same reason: Bpe.train runs its word-count
  // job and driver-side merge loop eagerly, so the remaining plan is the
  // encode projection + rollup; the scale argument lives in Bpe.scala's
  // scaladoc and BpeSpec.

  /** Hand-written audit notes emitted verbatim after the named query's
    * generated plan — scale findings that a single-SF plan dump can't
    * show. Living here (not in the .md) so regeneration preserves them. */
  val Notes: Map[String, String] = Map(
    "q55_dedup_clusters" -> """### q55 audit note: the connected-components core is below this plan (r8)

The plan above only shows the cluster-size window and ordering over the
component labels: as of r8 the min-label-propagation loop itself runs
EAGERLY on co-partitioned pair RDDs (Graph.scala object scaladoc — one
message shuffle per round with map-side combine, narrow joins
otherwise), so like q75 there is no Catalyst plan to audit for the
iteration. Its scale shape is asserted structurally instead:
GraphSpec's differential suite proves the RDD core equal to the
retained DataFrame reference implementation on random graphs and the
real near-dup graph, and the numeric kernels are property-tested
bit-for-bit against the SQL expressions they replicate.
""",
    "q68_lm_score" -> """### q68 at-scale join shape: the w1 vocab join under Zipf skew (r8)

The plan above broadcasts the model tables because they are tiny at
sf0.01; the scale question (r6 ADVICE / r7 VERDICT item 5) was what the
w1-only vocab join becomes when the model is past any broadcast
threshold at 100 TB — AQE's `OptimizeSkewedJoin` only splits skewed
partitions of SORT-MERGE joins, and w1 is Zipf-hot (stopwords).
Verified r8 at sf0.1 with `spark.sql.autoBroadcastJoinThreshold=-1` and
`spark.sql.adaptive.autoBroadcastJoinThreshold=-1` (the honest stand-in
for model-too-big; there is no sf1 dataset in the container): every
model join, including the w1-only vocab join, resolves to SMJ —

```
SortMergeJoin [doc_id], [doc_id], LeftOuter
+- ...
   SortMergeJoin [w1], [w1], Inner          <- vocab join: SMJ, skew-splittable
   :- SortMergeJoin [w1, w2], [w1, w2], Inner   <- bigram-model join
```

— and the session never sets `spark.sql.join.preferSortMergeJoin=false`,
so the AQE skew mitigation documented in NgramLm.scala's scaladoc
applies as written. No salting needed until a real-cluster profile
shows stragglers that AQE's split threshold misses; the salting recipe
(replicate the few hundred hottest w1 vocab rows k ways — score-neutral)
stays documented in the scaladoc as the escalation path.
""",
    "q84_dup_spans" -> """### q84 audit note: the gram-frame persist is an API knob (r10, knob r11)

The InMemoryRelation above is the (doc_id, start, gh) gram frame —
MEMORY_AND_DISK at ~24 B/token — persisted because it feeds BOTH the
window-frequency count and the span join. At 100 TB that cache spills
multi-TB to executor scratch disk; the alternative is to NOT persist
and let the span join recompute the scan+explode+md5 projection (one
extra pass over the corpus, zero cache footprint). Since r11 that
choice is the `persistGrams: Boolean = true` parameter on
dupSpans/dupSpanIntervals/stripDupSpans, spec'd bit-identical both
ways (the chain is deterministic either way): the persist (default)
wins at interactive scale and wherever aggregate cluster disk absorbs
the spill; `persistGrams = false` wins when scratch disk is the
binding constraint. The shuffle story is unaffected — either way only
three-long rows reach the gh exchange, and the span-level
decontamination twin (contamSpanIntervals) needs NO persist at all:
its corpus grams are traversed once against the broadcast benchmark
hash set.
""",
    "q86_heavy_hitters" -> """### q86 audit note: eager sparse sketch, plan-literal probe, bounded recount (r13)

ONE job runs before this plan exists: the CMS sketch aggregation (a
shuffle keyed on ≤ cells·depth·width, LIMIT-bounded collect — at most
maxSketchBytes/64 SPARSE rows ever materialize on the driver, so the
guard is the collect shape itself; the r13 draft probed approx cell
cardinality in a separate job and refused on the DENSE expansion size,
which both cost an extra job per call and rejected high-cardinality
groupings whose non-zero sketch actually fits — measured 1.95 s →
0.94 s after the swap). The audited plan is pass 2: the persisted melt
re-read from InMemoryRelation, the sketch applied as a zero-fan-out
plan-literal predicate (coalesce(element_at over a nested typedlit
map, 0) — an absent bucket reads the 0 its dense slot held; no join,
no explode), then the exact recount whose groupBy is keyed on the
surviving candidates (~1/minShare per cell + collision strays), a
bounded set regardless of the column's distinct cardinality. That
bound is the whole point at 100 TB: a billion-distinct column never
keys a shuffle here — compare topValues, whose first exchange is keyed
on every distinct value.
""",
    "q87_weighted_sample" -> """### q87 audit note: one probe reduce, then TakeOrdered — no corpus shuffle (r13)

ONE job runs before this plan exists: the positive-weight probe
(min(w) + null count in a single partial-agg reduce — a few longs per
partition move, nothing else). The audited plan is the sample itself:
the race key ln(u)/w is a codegen'd projection fused into the parquet
scan (ReadSchema carries only doc_id/source/text), and the top-k is
TakeOrderedAndProject — every partition keeps its local 100, the
driver merges k·partitions candidate rows, and NO exchange appears in
the plan at any corpus size. That shape is why Efraimidis–Spirakis
sampling scales where sort-based weighted sampling doesn't: the global
sort a naive ORDER BY rk would pay is replaced by per-partition heaps,
so a 100 TB corpus pays one scan and moves ~100 rows per partition.
The md5-derived u keeps the whole race a pure function of the data —
the DuckDB oracle replays the ORDER, not just the membership.
""",
    "q85_rate_z" -> """### q85 audit note: one count shuffle, stats broadcast back (r12)

The InMemoryRelation is the persisted (event_type, window, n_events)
counts frame — bounded by active windows (wall-span ÷ windowSec ×
types), NOT corpus size — feeding both the moment fit and the flag
join so the count exchange runs once. The stats side aggregates to one
row per event type and comes back as a BroadcastHashJoin (BuildRight):
no second corpus-sized shuffle exists in the plan, and the only
exchange after the counts is the bounded per-type stats rollup plus
the output sort. At 100 TB the same operator deploys split: the
windowed count runs INSIDE a watermarked stream (bounded state,
finalized windows appended to a counts table) and
rateAnomaliesFromCounts fits over the accumulated table —
StreamTailSpec drives that composition end-to-end and pins it
row-for-row to this batch plan.
""",
    "q47_percentile" -> """### q47 audit note: the group-size guard probe runs before this plan (r10)

As of r10, q47 routes through `Relational.exactPercentiles`, which runs
one EAGER probe pass (max rows-per-group, a map-side-combinable count —
not visible in the plan above, exactly like q43/q54's eager codebook
training) before the value-buffering exact `percentile` aggregate is
allowed to build. Within `maxGroupRows` (default 1e7) the plan is the
one shown; beyond it the call refuses or — with `autoSwap` — becomes
q53's bounded mergeable `approx_percentile` sketch. This closes the
"correct at sf0.1, dies at 100×" boundary the r9 verdict flagged: the
swap guidance is now enforced in code, and the probe's cost (one cheap
aggregation scan) replaces an unbounded OOM risk mid-job.
""",
    "q65_semdedup" -> """### q65 audit note: the fat-cell guard probe runs before this plan (r11)

`Similarity.semDedup` now runs the same eager probe shape as q47: one
map-side-combinable max-cell-size count over the (already persisted)
assignment frame before the within-cell pair join is allowed to build.
Within `maxCellRows` (default 1e5) the plan is the one shown; beyond
it the call refuses, or — with `autoSplit` — sub-buckets fat cells by
deterministic hyperplane sign bits (pairs then scope to (cell,
sub-bucket); splitting can only miss pairs, never invent them). The
probe costs ~0.2-0.3 s at sf0.1 (one extra job over the cached
assignments — it shows in the bench as a small q65 riser vs r10);
what it buys is the same trade q47 made: a single degenerate cell
would otherwise turn this plan's per-cell nested loop into an n²/2
single-task straggler at corpus scale.
""",
    "q82_profile" -> """### q82 audit note: the r11 profiling companions share this melt (r11)

The one-scan `explode(array(struct…))` melt this plan shows is now a
single definition (`meltCols`) feeding two more spec-gated operators:
`Relational.topValues` (frequent values — complete counts take LOCAL
top-k per (cell, shuffle partition) before a global rank over the
bounded candidates, so an id-like column never sorts corpus-sized in
one window task; differentially spec'd against the one-window oracle
including the fat doc_id column) and `Relational.profileDrift`
(profile-vs-profile cell diff — both inputs are bounded reports, so
the full outer join is trivial at any corpus width). Neither adds a
gated query: the bench registry is capped at 83 and the new surface
is spec-gated by the SURVEY §10/§11 replacement policy.
""",
    "q58_sample_stratified" -> """### q58 audit note: the r11 cap/calibration family avoids per-group windows (r11)

The window this plan shows is per-stratum top-n over SMALL n — fine.
The r11 additions around it deliberately avoid the same shape where
the per-group row count is unbounded: `capPerGroup` pre-thins over-cap
groups to their smallest-hash slice (provably containing the true
top-cap when ≥ cap rows survive; a recount routes binomial-tail
groups through the exact windowed fallback), `capTokensPerGroup` and
`calibrateScores` ride the shared `twoLevelCumSum` prefix scan with
per-group start offsets (range-partitioned on the full order key, so
a mega-domain SPLITS across partitions instead of sorting in one
task), and all three refuse NULL/duplicate keys by eager probes.
Each is differentially spec'd against its one-window oracle; none
adds a gated query (bench registry capped at 83).
""")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    // fixed width, so the plans' partition counts do not vary by host
    val spark = Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plans (explain formatted)\n\n")
    sb.append(s"Generated against `$sfDir`. Things to check per plan: " +
      "PushedFilters reach the scan, ReadSchema is pruned, small dims are " +
      "BroadcastHashJoin, big-big is SortMergeJoin, `*(n)` codegen spans " +
      "are wide, exchanges only on semantic keys.\n")
    def emit(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      // escape control chars (q86's plan-literal cell keys embed the
      // u0001/u0000 sentinels verbatim — raw, they make the whole
      // file read as binary to grep/diff tooling)
      val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        .flatMap {
          case c if c < ' ' && c != '\n' && c != '\t' => f"\\u${c.toInt}%04x"
          case c => c.toString
        }
      sb.append(s"\n## $name\n\n```\n$plan```\n")
      Notes.get(name).foreach(n => sb.append(s"\n$n"))
      graft.core.Caches.release()
    }
    Headline.foreach(name => emit(name, SparkEntry.queries(name)(spark, sfDir)))
    ExtraHeadline.foreach(name =>
      emit(name, VerifyExtras.queries(name)(spark, sfDir)))
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }
}
