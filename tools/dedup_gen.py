#!/usr/bin/env python3
"""Deterministic documents-table generator for the near-dup dedup
throughput run (q50/q51/q52/q73 at volume) — with KNOWN ground-truth
cluster structure, so the volume run verifies soundness and recall,
not just wall time.

Emits <outDir>/documents.parquet with the TESTDATA.md schema
(doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR,
n_chars BIGINT).

Construction: tokens are hash-derived from a per-doc BASE id, so
unrelated docs share essentially no 3-token shingles (vocab 2^20,
~125 tokens/doc -> cross-doc shingle collisions ~0), while related
docs share the base's token stream exactly:

- group g = doc_id // 4, role r = doc_id % 4;
- g % 8 == 0: a 4-doc NEAR-DUP cluster. All four docs render base
  4g's stream; roles 1..3 overwrite ONE position ((17*r) % n_toks)
  with a doc-unique token. Root<->member Jaccard on 3-shingles is
  (s-3)/(s+3) >= 0.90 at the minimum doc length (s = n_toks-2),
  member<->member (s-6)/(s+6) >= 0.81 — all above q51's 0.8 verify
  threshold, so the expected q73 cluster is {4g..4g+3} with
  canonical 4g. LSH recall at 4 bands x 3 rows is 1-(1-j^3)^4
  (>= 99.5% per root edge), NOT 1.0 by construction — the bench
  asserts soundness exactly and recall >= 98%.
- g % 8 == 1, r == 1: an EXACT duplicate of doc 4g (byte-identical
  text; q50's fingerprint path and a guaranteed j=1.0 LSH pair).
- everything else: singleton (unique base stream).

BRIDGE families (opt-in, bridge_every > 0): when g % bridge_every
== 2, the FIVE docs 4g..4g+4 (group g plus role 0 of group g+1)
share base 4g with POSITION-KEYED replacement tokens ('b<base>_<p>'
— two family docs mutating the same position agree there), so
Jaccard between family docs is exactly (s-3d)/(s+3d) for d = the
symmetric difference of their mutation-position sets (positions
spaced >= 3):

  A1 = {}            A2 = {5}                   (d=1 -> J>=0.90)
  B1 = {10..35 by 5} B2 = {10..40 by 5}         (d=1 -> J>=0.90)
  X  = {10,15,20}                               (hub)

  d(X,A1) = d(X,B1) = 3 -> J = (s-9)/(s+9) >= 0.8 iff s >= 81;
  d(A1,B1) = 6 -> J = (s-18)/(s+18) < 0.8 iff s < 162.

For mid-length families the standing 80% split thus holds TWO
separate components {A1,A2} and {B1,B2} (no direct A-B pair) that
only a batch-resident X can merge — the genuine cross-component
BRIDGE the cluster-maintenance volume run needs (ClusterVolBench's
bridge census; ground-truth family key = base group, see the CASE
expr there). Short families (s < 81) produce no X edges; long ones
(s >= 162) collapse A-B into one standing comp — both sound, both
merely reducing bridge yield. The default (bridge_every = 0) keeps
the corpus byte-identical to the historical one, so the standing
/tmp/dedup2m rows (IndexVolBench, SubstrVolBench's per-class token
invariants, DedupBench recall) stay comparable.

Usage: python3 tools/dedup_gen.py <outDir> <nDocs> [clusterEvery=8] [bridgeEvery=0]
"""
import duckdb, os, sys


def main(out_dir, n_docs, cluster_every=8, bridge_every=0):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    bridge_base = ""
    bridge_f = "CAST(NULL AS BIGINT)"
    if bridge_every:
        # Residues 2 and 3 (mod bridge_every) must stay clear of the
        # cluster (0) and exact-dup (1) residues (mod cluster_every).
        assert bridge_every % cluster_every == 0 and cluster_every >= 4, \
            "bridgeEvery must be a multiple of clusterEvery >= 4"
        bridge_base = f"""
            WHEN g % {bridge_every} = 2 THEN 4 * g
            WHEN g % {bridge_every} = 3 AND r = 0 THEN 4 * (g - 1)"""
        bridge_f = f"""CASE
            WHEN g % {bridge_every} = 2 THEN r
            WHEN g % {bridge_every} = 3 AND r = 0 THEN 4
            ELSE CAST(NULL AS BIGINT) END"""
    con.execute(f"""
      COPY (
        WITH d AS (
          SELECT i AS doc_id, i // 4 AS g, i % 4 AS r FROM range(0, {n_docs}) t(i)),
        based AS (
          SELECT doc_id, g, r,
            CASE WHEN g % {cluster_every} = 0 THEN 4 * g
                 WHEN g % {cluster_every} = 1 AND r = 1 THEN 4 * g{bridge_base}
                 ELSE doc_id END AS base_id,
            (g % {cluster_every} = 0 AND r > 0) AS mutated,
            {bridge_f} AS bf
          FROM d),
        sized AS (
          SELECT *, 60 + (base_id * 17) % 121 AS n_toks FROM based),
        mutd AS (
          SELECT *,
            CASE
              WHEN bf = 0 THEN []::BIGINT[]
              WHEN bf = 1 THEN [5]::BIGINT[]
              WHEN bf = 2 THEN [10, 15, 20, 25, 30, 35]::BIGINT[]
              WHEN bf = 3 THEN [10, 15, 20, 25, 30, 35, 40]::BIGINT[]
              WHEN bf = 4 THEN [10, 15, 20]::BIGINT[]
              WHEN mutated THEN [(17 * r) % n_toks]::BIGINT[]
              ELSE []::BIGINT[]
            END AS mutset
          FROM sized)
        SELECT doc_id,
          array_to_string(
            list_transform(range(0, n_toks), p ->
              CASE WHEN list_contains(mutset, p) THEN
                     CASE WHEN bf IS NOT NULL
                          THEN 'b' || CAST(base_id AS VARCHAR) || '_' || CAST(p AS VARCHAR)
                          ELSE 'm' || CAST(doc_id AS VARCHAR) END
                   ELSE 't' || CAST(hash(base_id * 1000003 + p) % 1048576 AS VARCHAR)
              END), ' ') AS text,
          (['en','en','en','es','de','en','es','en'])[1 + doc_id % 8] AS lang,
          's' || CAST(doc_id % 8 AS VARCHAR) AS source,
          CAST(0 AS BIGINT) AS n_chars
        FROM mutd
      ) TO '{out_dir}/documents0.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
      COPY (SELECT doc_id, text, lang, source,
              CAST(length(text) AS BIGINT) AS n_chars
            FROM '{out_dir}/documents0.parquet')
      TO '{out_dir}/documents.parquet' (FORMAT PARQUET)
    """)
    os.remove(f"{out_dir}/documents0.parquet")
    n, toks = con.execute(
        f"SELECT count(*), sum(len(string_split(text, ' '))) "
        f"FROM '{out_dir}/documents.parquet'").fetchone()
    print(f"wrote {n} docs, ~{toks} tokens -> {out_dir}/documents.parquet")


if __name__ == "__main__":
    # Optional third arg spaces the dup structure out: every
    # `clusterEvery`-th 4-doc group is a near-dup cluster (default 8,
    # ~19% of docs in candidate pairs; 128 gives the ~1% candidate
    # density a production corpus shows — the q51 sparse-verify A/B).
    # Optional fourth arg plants bridge families every `bridgeEvery`
    # groups (default 0 = off, historical corpus unchanged).
    main(sys.argv[1], int(sys.argv[2]),
         int(sys.argv[3]) if len(sys.argv) > 3 else 8,
         int(sys.argv[4]) if len(sys.argv) > 4 else 0)
