"""The benchmark's query workload: a pinned op list and why it exists.

The query list is pinned by name rather than derived from the registry,
so a run measures the same operations at every commit; a name that
disappears from the registry shows up as a failed op, not as a silently
different workload.  The list runs in this fixed order, one closed-loop
client, in passes: each pass reads its own copy of the fixture, so every
pass starts with the program's memos cold (they are keyed by data path)
while the JVM stays warm.  ``etl.py`` holds the ``etl_load`` workload.
"""

from __future__ import annotations

# Three memo-sharing pairs (the first query fills the memo, the second
# reuses it), then two queries that share no frame.  This is the workload
# with cross-query reuse and build-time jobs (localCheckpoint cuts, memo
# fills); the queries without a shared frame carry the per-query fixed
# costs (Py4J plan build, job launch).
DEDUP_COLD = (
    # sized shingle pairs
    "q_dedup_ngram", "q_dedup_containment",
    # MinHash signatures and pairs
    "q_dedup_minhash", "q_dedup_lsh_stats",
    # embedding pairs
    "q_dedup_embed", "q_dedup_semantic",
    # no shared frame
    "q_embed_norm", "q_text_fingerprint",
)

QUERY_WORKLOADS = {
    "dedup_cold": DEDUP_COLD,
}

WORKLOADS = ("dedup_cold", "etl_load")
