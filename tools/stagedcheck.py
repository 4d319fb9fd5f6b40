#!/usr/bin/env python3
"""Staged oracles for the four families DuckDB cannot replay in full at
sf30 and above (exports written by graft.StagedVerify). DuckDB folds only
what comes after each family's engine export, whose construction the
gate already verifies at sf0.01/sf0.1:

  lsh    the connected-components fixpoint + yield histogram (q134, q155)
         and q129's keep/drop verdicts over the engine's q70 pair set,
         instead of re-mining pairs (the full replay spilled >58 GB at
         sf30);
  graph  the unrolled integer fixed-point PageRank rounds + top-20
         election (q130, q132) over the engine's trade pairs, instead of
         re-deriving them from 180M fact rows; degrees / Σw are
         re-derived from the pairs, so the denominators are verified too;
  pairs  the within-bucket exact pair join over the engine's top-2
         multi-assignment (q140), with vectors re-read from the rung's
         embeddings and DuckDB's own list_cosine_similarity;
  spans  the first-occurrence election, span coverage and per-doc
         reconstruction hash (q100, q101) over the engine's gram frame,
         instead of re-mining w-token grams (~25 GB of gram strings at
         sf100); the row-wise corpus-prep oracle (q98, q104) replays in
         full from the documents parquet, its SQL shipped verbatim by the
         engine in q98_oracle.sql.

Usage: python3 tools/stagedcheck.py <lsh|graph|pairs|spans|all> <sfDir> \
           <stagedOutDir> [sliceMod [sliceRem]]
  Each family reads <stagedOutDir>/<family>/. sliceMod/sliceRem apply to
  pairs only: they restrict it to buckets with bucket % mod == rem, the
  deterministic fallback when the full Σc² replay is too heavy.
"""
import os
import sys

import duckdb

from selfcheck import canon  # same row canonicalization as the gate


def glob_of(d, t):
    """`t`'s parquet under `d`: a single file, or a directory of parts."""
    p = f"{d}/{t}.parquet"
    return f"{p}/*.parquet" if os.path.isdir(p) else p


def connect(out, memory_limit=None, on_disk=False):
    db = ":memory:"
    if on_disk:
        db = f"{out}/stage.duckdb"
        if os.path.exists(db):
            os.remove(db)
    con = duckdb.connect(db)
    if memory_limit:
        con.execute(f"PRAGMA memory_limit='{memory_limit}'")
        con.execute(f"PRAGMA temp_directory='{out}/duck_tmp'")
    return con


def count(con, out, t):
    return con.execute(
        f"SELECT count(*) FROM read_parquet('{glob_of(out, t)}')").fetchone()[0]


def compare(con, out, name, fname, oracle):
    """PASS/FAIL the engine's `fname` export against the oracle frame."""
    engine = con.execute(
        f"SELECT * FROM read_parquet('{glob_of(out, fname)}')").fetchdf()
    ocols, orows = canon(oracle)
    ecols, erows = canon(engine)
    ok = ocols == ecols and orows == erows
    print(f"{'PASS' if ok else 'FAIL'} {name} "
          f"(engine {len(erows)} rows, oracle {len(orows)} rows)")
    if not ok and ocols != ecols:
        print(f"  cols: engine={ecols} oracle={ocols}")
    if not ok and orows and erows:
        diff = set(orows).symmetric_difference(set(erows))
        print(f"  first diffs: {sorted(diff)[:3]}")
    return ok


# ---- lsh ---------------------------------------------------------------

CC_SQL = """
WITH RECURSIVE
pairs AS MATERIALIZED (
  SELECT doc_a AS da, doc_b AS db FROM read_parquet('{out}/pairs.parquet/*.parquet')),
edges AS MATERIALIZED (SELECT da AS a, db AS b FROM pairs
          UNION ALL SELECT db, da FROM pairs),
reach(a, b) AS (SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
                UNION
                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
labeled AS (SELECT a AS doc_id, min(b) AS cluster_rep FROM reach GROUP BY a)
"""

Q134_SQL = CC_SQL + """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(cluster_rep AS BIGINT) AS cluster_rep
FROM labeled ORDER BY doc_id"""

Q155_SQL = CC_SQL + """,
dt AS (SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
       FROM read_parquet('{docs}')),
wl AS (SELECT dt.doc_id, dt.n_tok, coalesce(l.cluster_rep, dt.doc_id) AS rep
       FROM dt LEFT JOIN labeled l ON dt.doc_id = l.doc_id),
cl AS (SELECT rep, CAST(count(*) AS BIGINT) AS sz,
         CAST(sum(CASE WHEN doc_id <> rep THEN n_tok ELSE 0 END) AS BIGINT) AS rm_toks
       FROM wl GROUP BY rep),
tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS tt FROM dt)
SELECT CASE WHEN sz = 1 THEN '1' WHEN sz <= 4 THEN '2-4' ELSE '5+' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_docs,
       CAST(sum(sz - 1) AS BIGINT) AS n_removable_docs,
       CAST(sum(rm_toks) AS BIGINT) AS n_removable_toks,
       (1000 * CAST(sum(rm_toks) AS BIGINT)) // tt AS permille_removable_toks
FROM cl, tot GROUP BY 1, tt ORDER BY 1"""


# q129's verdicts are a single NON-RECURSIVE fold over the pair set
# (dedup-vs-ALL-priors is order-independent per doc; arrival is staged
# in doc_id order — MinHashDedupStream's Scaladoc), so the stream's
# cross-batch store state replays exactly at rungs the full MinHash
# re-mine can't reach.
Q129_SQL = """
WITH pairs AS MATERIALIZED (
  SELECT doc_a AS da, doc_b AS db FROM read_parquet('{out}/pairs.parquet/*.parquet')),
prior AS (SELECT db, count(*) AS nd FROM pairs GROUP BY db)
SELECT d.doc_id,
       CAST(coalesce(p.nd, 0) AS BIGINT) AS n_dup_prior,
       CAST(CASE WHEN p.nd IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM (SELECT doc_id FROM read_parquet('{docs}')) d
LEFT JOIN prior p ON d.doc_id = p.db
ORDER BY doc_id"""


def lsh(sf_dir, out, *_):
    con = connect(out)
    docs = glob_of(sf_dir, "documents")
    oks = [compare(con, out, name, fname,
                   con.execute(sql.format(out=out, docs=docs)).fetchdf())
           for name, fname, sql in [
               ("q134_incremental_cc_stream", "q134", Q134_SQL),
               ("q155_dedup_yield", "q155", Q155_SQL),
               ("q129_minhash_dedup_stream", "q129", Q129_SQL)]]
    return oks, f"CC fold over {count(con, out, 'pairs')} engine-exported pairs"


# ---- graph -------------------------------------------------------------
# Every quantity is a BIGINT and every division a floor division
# (graft/ops/PageRank.scala), so the comparison is exact equality, no
# tolerance. Rounds fold SEQUENTIALLY through tables in an ON-DISK DuckDB
# database, dropping each retired round: the one-shot materialized-CTE
# chain held the edge set plus every round's join state live at once and
# spilled past the box's free disk at 352M edges; this form keeps peak
# state at (edge table + two node-sized rank tables).

MASS = 1000000000000  # graft.ops.PageRank.Mass
TELEPORT_NUM = 15 * MASS
ROUNDS = 8            # graft.queries.GraphOps.Rounds
PROUNDS = 6           # graft.queries.GraphOps.PRounds
SEED_SEGMENT = "BUILDING"


def fold_q130(con, out, supplier):
    con.execute(f"""CREATE OR REPLACE TABLE ed AS
WITH pairs AS (SELECT c, sp FROM read_parquet('{out}/pairs.parquet/*.parquet')),
edges AS (SELECT c AS src, sp AS dst FROM pairs
          UNION ALL SELECT sp, c FROM pairs),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)
SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON e.src = d.src""")
    # symmetrized edges: every node appears as a src, so the node spine
    # and per-node deg both come off the deg-annotated edge table
    con.execute("""CREATE OR REPLACE TABLE nodes AS
SELECT DISTINCT src AS node FROM ed""")
    n = con.execute("SELECT count(*) FROM nodes").fetchone()[0]
    con.execute(f"""CREATE OR REPLACE TABLE r0 AS
SELECT node, CAST({MASS // n} AS BIGINT) AS rank FROM nodes""")
    for i in range(1, ROUNDS + 1):
        con.execute(f"""CREATE TABLE r{i} AS
SELECT n.node, CAST({TELEPORT_NUM // (100 * n)} AS BIGINT) + COALESCE(c.sc, 0) AS rank
FROM nodes n
LEFT JOIN (SELECT e.dst AS node,
                  CAST(sum((85 * r.rank) // (100 * e.deg)) AS BIGINT) AS sc
           FROM ed e JOIN r{i - 1} r ON e.src = r.node
           GROUP BY e.dst) c ON n.node = c.node""")
        con.execute(f"DROP TABLE r{i - 1}")
    df = con.execute(f"""
SELECT s.s_suppkey, s.s_name, r.rank AS rank_units
FROM r{ROUNDS} r JOIN read_parquet('{supplier}') s
  ON (r.node - 1) // 2 = s.s_suppkey
WHERE r.node % 2 = 1
ORDER BY rank_units DESC, s_suppkey
LIMIT 20""").fetchdf()
    con.execute(f"DROP TABLE r{ROUNDS}")
    con.execute("DROP TABLE ed")
    con.execute("DROP TABLE nodes")
    return df


def fold_q132(con, out, supplier, customer):
    con.execute(f"""CREATE OR REPLACE TABLE ed AS
WITH pw AS (SELECT c, sp, w FROM read_parquet('{out}/pw.parquet/*.parquet')),
edges AS (SELECT c AS src, sp AS dst, w FROM pw
          UNION ALL SELECT sp, c, w FROM pw),
wsum AS (SELECT src, CAST(sum(w) AS BIGINT) AS tw FROM edges GROUP BY src)
SELECT e.src, e.dst, CAST(e.w AS BIGINT) AS w, s.tw
FROM edges e JOIN wsum s ON e.src = s.src""")
    con.execute(f"""CREATE OR REPLACE TABLE nodesS AS
WITH nodes AS (SELECT DISTINCT src AS node FROM ed),
seeds AS (SELECT c_custkey * 2 AS node FROM read_parquet('{customer}')
          WHERE c_mktsegment = '{SEED_SEGMENT}')
SELECT n.node, CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END AS seed
FROM nodes n LEFT JOIN seeds s ON n.node = s.node""")
    ns = con.execute("SELECT CAST(sum(seed) AS BIGINT) FROM nodesS").fetchone()[0]
    con.execute(f"""CREATE OR REPLACE TABLE p0 AS
SELECT node, CAST(seed AS BIGINT) * CAST({MASS // ns} AS BIGINT) AS rank FROM nodesS""")
    for i in range(1, PROUNDS + 1):
        con.execute(f"""CREATE TABLE p{i} AS
SELECT n.node, CAST(n.seed AS BIGINT) * CAST({TELEPORT_NUM // (100 * ns)} AS BIGINT) + COALESCE(c.sc, 0) AS rank
FROM nodesS n
LEFT JOIN (SELECT e.dst AS node,
                  CAST(sum((85 * r.rank * e.w) // (100 * e.tw)) AS BIGINT) AS sc
           FROM ed e JOIN p{i - 1} r ON e.src = r.node
           GROUP BY e.dst) c ON n.node = c.node""")
        con.execute(f"DROP TABLE p{i - 1}")
    df = con.execute(f"""
SELECT s.s_suppkey, s.s_name, r.rank AS rank_units
FROM p{PROUNDS} r JOIN read_parquet('{supplier}') s
  ON (r.node - 1) // 2 = s.s_suppkey
WHERE r.node % 2 = 1
ORDER BY rank_units DESC, s_suppkey
LIMIT 20""").fetchdf()
    con.execute(f"DROP TABLE p{PROUNDS}")
    con.execute("DROP TABLE ed")
    con.execute("DROP TABLE nodesS")
    return df


def graph(sf_dir, out, *_):
    con = connect(out, memory_limit="48GB", on_disk=True)
    supplier = glob_of(sf_dir, "supplier")
    customer = glob_of(sf_dir, "customer")
    oks = [compare(con, out, "q130_pagerank", "q130",
                   fold_q130(con, out, supplier)),
           compare(con, out, "q132_personalized_pagerank", "q132",
                   fold_q132(con, out, supplier, customer))]
    return oks, (f"integer fixed-point fold over {count(con, out, 'pairs')} "
                 f"engine-exported pairs")


# ---- pairs -------------------------------------------------------------
# Both directions are checked, exactly (cos_r is the 4-dp rounded cosine
# on both sides, no tolerance):
#   - every DuckDB-mined pair must appear in the engine set with the same
#     cos_r (completeness of the kernel);
#   - every engine pair whose endpoints share an in-slice bucket must be
#     minable from that slice (soundness: no fabricated pairs).
# With the default modulus 1 the slice is the WHOLE corpus and the two
# sides must be set-equal.

THRESHOLD = 0.45  # q140's registered threshold


def pairs(sf_dir, out, slice_mod=1, slice_rem=0):
    con = connect(out, memory_limit="80GB")
    emb = glob_of(sf_dir, "embeddings")
    base = f"""
asg AS MATERIALIZED (
  SELECT a.bucket, a.vec_id, e.v
  FROM read_parquet('{out}/asg2.parquet/*.parquet') a
  JOIN (SELECT vec_id, embedding::DOUBLE[] AS v
        FROM read_parquet('{emb}')) e USING (vec_id)
  WHERE a.bucket % {slice_mod} = {slice_rem}),
mined AS MATERIALIZED (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_cosine_similarity(a.v, b.v), 4) AS cos_r
  FROM asg a JOIN asg b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= {THRESHOLD}),
eng AS MATERIALIZED (
  SELECT vec_a, vec_b, cos_r
  FROM read_parquet('{out}/q140.parquet/*.parquet')),
eng_slice AS MATERIALIZED (
  SELECT DISTINCT p.vec_a, p.vec_b, p.cos_r
  FROM eng p
  WHERE EXISTS (SELECT 1 FROM asg x JOIN asg y ON x.bucket = y.bucket
                WHERE x.vec_id = p.vec_a AND y.vec_id = p.vec_b))"""
    missing, fabricated, n_mined, n_slice = con.execute(f"""WITH {base}
SELECT
  (SELECT count(*) FROM mined m WHERE NOT EXISTS (
     SELECT 1 FROM eng e WHERE e.vec_a = m.vec_a AND e.vec_b = m.vec_b
       AND e.cos_r = m.cos_r)),
  (SELECT count(*) FROM eng_slice s WHERE NOT EXISTS (
     SELECT 1 FROM mined m WHERE m.vec_a = s.vec_a AND m.vec_b = s.vec_b
       AND m.cos_r = s.cos_r)),
  (SELECT count(*) FROM mined),
  (SELECT count(*) FROM eng_slice)""").fetchone()
    n_eng = count(con, out, "q140")
    ok = missing == 0 and fabricated == 0 and n_mined > 0
    scope = ("full corpus" if slice_mod == 1
             else f"bucket slice %{slice_mod}=={slice_rem}")
    print(f"{'PASS' if ok else 'FAIL'} q140_pairs_auto_routed [{scope}] "
          f"(mined {n_mined}, engine-in-slice {n_slice}, engine total {n_eng}; "
          f"missing-from-engine {missing}, unminable-engine-pairs {fabricated})")
    return [ok], f"routed pair join, {scope}"


# ---- spans -------------------------------------------------------------

W = 8

# The spanDedupSql tail (TrainingOps.spanDedupSql) with the gram mine
# replaced by the engine's exported (doc_id, pos, pack) frame. pack is
# an opaque identity — the fold needs only its equality. The
# first-occurrence election is a groupBy-min over the composite key
# doc_id * 2^20 + pos (positions are token indexes, far under 2^20)
# rather than a 500M-row window sort.
SPAN_SQL = """
WITH g AS (
  SELECT doc_id, pos, pack, doc_id * 1048576 + pos AS k
  FROM read_parquet('{out}/grams.parquet/*.parquet')),
f AS (SELECT pack, min(k) AS fk FROM g GROUP BY pack),
dup AS (SELECT g.doc_id, g.pos FROM g JOIN f USING (pack) WHERE g.k > f.fk),
d AS (SELECT doc_id, list_sort(list(pos)) AS starts FROM dup GROUP BY doc_id),
cov AS (SELECT doc_id, starts,
          list_sort(list_distinct(flatten(
            list_transform(starts, s -> range(s, s + {w}))))) AS covered
        FROM d),
tok0 AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM read_parquet('{docs}')),
keep AS (
  SELECT t.doc_id,
         CAST(len(t.toks) AS BIGINT) AS n_tok,
         CAST(coalesce(len(c.starts), 0) AS BIGINT) AS n_dup_spans,
         CAST(coalesce(len(c.covered), 0) AS BIGINT) AS n_removed,
         CASE WHEN c.doc_id IS NULL THEN t.toks
              ELSE list_filter(t.toks, (t2, i) -> NOT list_contains(c.covered, i - 1))
         END AS kept
  FROM tok0 t LEFT JOIN cov c ON t.doc_id = c.doc_id)
SELECT doc_id, n_tok, n_dup_spans, n_removed,
  list_reduce(list_prepend(CAST(0 AS BIGINT),
    list_transform(range(1, len(array_to_string(kept, ' ')) + 1),
      j -> CAST(unicode(array_to_string(kept, ' ')[j]) AS BIGINT))),
    (acc, x) -> (acc * 31 + x) % 1000000007) AS kept_hash
FROM keep ORDER BY doc_id"""


def spans(sf_dir, out, *_):
    con = connect(out)
    docs = glob_of(sf_dir, "documents")
    # the full row-wise corpus-prep replay needs the `documents` view
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
    # the election key doc_id*2^20+pos assumes pos < 2^20 per document;
    # a pathological doc would silently corrupt first-occurrence ordering
    # and make the ORACLE wrong — fail loudly instead
    max_pos = con.execute(
        f"SELECT coalesce(max(pos), 0) FROM "
        f"read_parquet('{out}/grams.parquet/*.parquet')").fetchone()[0]
    assert max_pos < 1048576, (
        f"election key overflow: max gram pos {max_pos} >= 2^20 — "
        f"widen the doc_id*1048576+pos key before trusting this oracle")
    span = con.execute(SPAN_SQL.format(out=out, docs=docs, w=W)).fetchdf()
    prep = con.execute(open(f"{out}/q98_oracle.sql").read()).fetchdf()
    oks = [compare(con, out, name, fname, oracle) for name, fname, oracle in [
        ("q100_span_dedup", "q100", span),
        ("q101_span_dedup_stream", "q101", span),
        ("q98_corpus_prep_pipeline", "q98", prep),
        ("q104_corpus_prep_stream", "q104", prep)]]
    return oks, f"span fold over {count(con, out, 'grams')} engine-exported grams"


FAMILIES = {"lsh": lsh, "graph": graph, "pairs": pairs, "spans": spans}


def main(which, sf_dir, out_dir, slice_mod=1, slice_rem=0):
    if which != "all" and which not in FAMILIES:
        sys.exit(f"family must be one of {', '.join(FAMILIES)} or all, "
                 f"got '{which}'")
    oks, notes = [], []
    for family, check in FAMILIES.items():
        if which in ("all", family):
            ok, note = check(sf_dir, f"{out_dir}/{family}", slice_mod, slice_rem)
            oks += ok
            notes.append(f"{family}: {note}")
    print(f"{sum(oks)} passed, {len(oks) - sum(oks)} failed "
          f"({'; '.join(notes)})")
    return 0 if all(oks) else 1


if __name__ == "__main__":
    mod = int(sys.argv[4]) if len(sys.argv) > 4 else 1
    rem = int(sys.argv[5]) if len(sys.argv) > 5 else 0
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3], mod, rem))
