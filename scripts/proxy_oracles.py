"""Scale-bounded oracle twins for the three 100x-capped flagship keys
(VERDICT r04 item 4): `dedup_minhash`, `dedup_clusters`,
`text_contamination`.

Their DECLARED oracles are single SQL strings sized for fixture SFs —
at the 100x proxy (500k documents in 100-member near-duplicate
clusters) the naive recursive-CTE transitive closure and the
one-pipeline shingle joins exceed any reasonable budget, so round 4
could only hash-prove these keys at 10x. This script computes the SAME
semantics in DuckDB via bounded, staged steps:

- `dedup_minhash`: the signature table (the linear 50M-md5 part) is
  materialized once, then banding/pairing/estimation run off it —
  byte-identical math to the declared oracle, minus the recompute.
- `dedup_clusters`: pair generation staged the same way; connected
  components via ITERATIVE min-label propagation (the engine's own
  algorithm, connected_components at dedup.py:183) instead of the
  O(sum cluster_size^2)-row recursive closure — both converge to the
  per-component minimum doc_id, so results are identical.
- `text_contamination`: the benchmark filter (doc_id % 97 = 0) is
  pushed BEFORE gram generation — mirroring the engine's
  broadcast-benchmark pruning (decontamination.py:12) — and the
  corpus-side gram/join runs off a staged bench-gram table.

Results compare via the agg-hash fingerprint (oracle.py
`_spark_fingerprint` / `_duck_fingerprint`): engine-side
order-insensitive (count, md5_48 row-sum), so the 27M-pair minhash
result never crosses py4j.

Usage: python scripts/proxy_oracles.py [proxy_dir] [key1,key2,...]
Default proxy_dir is the 100x replica (/tmp/spark_graft_sf10_proxy,
regenerate with SPARK_GRAFT_BIG_SF_DIR=... SPARK_GRAFT_SCALE_COPIES=100
python scripts/scale_experiment.py).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datapipeline_scripts_spark.extensions.dedup import (
    _minhash_hex32_sql,
    _BANDS,
    _N_HASHES,
    _SHINGLE_SQL,
)
from datapipeline_scripts_spark.extensions.decontamination import (
    _MOD as _CONTAM_MOD,
    _N as _CONTAM_N,
)
from datapipeline_scripts_spark.oracle import (
    _duck_fingerprint,
    _spark_fingerprint,
    duck_connection,
)
from datapipeline_scripts_spark.registry import all_queries
from datapipeline_scripts_spark.session import get_spark


def _stage_minhash_sig(con) -> None:
    """Materialize the per-doc 16-minimum signature table once."""
    h_defs = ",\n         ".join(
        f"min((h1 + {i} * h2) % 4294967296) AS h{i}" for i in range(_N_HASHES)
    )
    con.execute(
        f"""
        CREATE OR REPLACE TEMP TABLE mh_sig AS
        WITH shs AS ({_SHINGLE_SQL}),
        s AS (SELECT doc_id, unnest(shset) AS sh FROM shs),
        hh AS (
          SELECT doc_id,
                 {_minhash_hex32_sql("md5(sh)", 1)} AS h1,
                 {_minhash_hex32_sql("md5(sh)", 9)} AS h2
          FROM s
        )
        SELECT doc_id, {h_defs} FROM hh GROUP BY doc_id
        """
    )


def twin_dedup_minhash(con) -> str:
    _stage_minhash_sig(con)
    band_rows = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, {b} AS band, concat_ws(',', h{4 * b}, h{4 * b + 1}, "
        f"h{4 * b + 2}, h{4 * b + 3}) AS bucket FROM mh_sig"
        for b in range(_BANDS)
    )
    con.execute(
        f"""
        CREATE OR REPLACE TEMP TABLE mh_pairs AS
        WITH bands AS (
{band_rows}
        )
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
        """
    )
    matches = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(_N_HASHES)
    )
    con.execute(
        f"""
        CREATE OR REPLACE TEMP TABLE mh_final AS
        SELECT doc_a, doc_b, round(e, 4) AS est_jaccard
        FROM (
          SELECT doc_a, doc_b, ({matches}) / 16.0 AS e
          FROM mh_pairs
          JOIN mh_sig a ON doc_a = a.doc_id
          JOIN mh_sig b ON doc_b = b.doc_id
        ) t WHERE e >= 0.5
        """
    )
    return "mh_final"



def _label_prop(con, pairs_table: str, p: str, max_iters: int = 50) -> str:
    """Iterative min-label propagation over a (doc_a, doc_b) pair
    table -> temp table `{p}_membership` (doc_id, cluster_id): the
    engine's own connected-components algorithm replayed in SQL,
    bounded by graph diameter, replacing the O(sum cluster_size^2)-row
    recursive closure that budget-outs at deep rungs."""
    con.execute(
        f"""
        CREATE OR REPLACE TEMP TABLE {p}_edges AS
        SELECT doc_a AS a, doc_b AS b FROM {pairs_table}
        UNION ALL
        SELECT doc_b, doc_a FROM {pairs_table}
        """
    )
    con.execute(
        f"""
        CREATE OR REPLACE TEMP TABLE {p}_labels AS
        SELECT DISTINCT a AS node, a AS lbl FROM {p}_edges
        """
    )
    for it in range(max_iters):
        con.execute(
            f"""
            CREATE OR REPLACE TEMP TABLE {p}_labels_next AS
            SELECT l.node, least(l.lbl, coalesce(m.nbr, l.lbl)) AS lbl
            FROM {p}_labels l
            LEFT JOIN (
              SELECT e.a, min(lb.lbl) AS nbr
              FROM {p}_edges e JOIN {p}_labels lb ON e.b = lb.node
              GROUP BY e.a
            ) m ON l.node = m.a
            """
        )
        changed = con.execute(
            f"""
            SELECT count(*) FROM {p}_labels_next n
            JOIN {p}_labels o USING (node) WHERE n.lbl < o.lbl
            """
        ).fetchone()[0]
        con.execute(
            f"CREATE OR REPLACE TEMP TABLE {p}_labels AS SELECT * FROM {p}_labels_next"
        )
        if changed == 0:
            print(f"#   label propagation converged after {it + 1} iterations", flush=True)
            break
    else:
        raise RuntimeError(f"label propagation did not converge in {max_iters} iterations")
    con.execute(
        f"""
        CREATE OR REPLACE TEMP TABLE {p}_membership AS
        SELECT node AS doc_id, lbl AS cluster_id FROM {p}_labels
        """
    )
    return f"{p}_membership"


def twin_dedup_clusters(con, max_iters: int = 50) -> str:
    con.execute(
        f"""
        CREATE OR REPLACE TEMP TABLE dc_toks0 AS
        WITH sh AS ({_SHINGLE_SQL})
        SELECT doc_id, unnest(shset) AS sh FROM sh
        """
    )
    # dictionary-encode shingles to dense ints before the inverted-index
    # self-join: the join's intermediate is sum(df^2) rows (~5e9 at the
    # 100x proxy where every shingle's doc-freq is ~100), so per-row key
    # cost dominates — int32 keys instead of ~25-char strings. Exact (a
    # bijection, unlike hashing shingles, which could collide).
    con.execute(
        """
        CREATE OR REPLACE TEMP TABLE dc_dict AS
        SELECT sh, row_number() OVER (ORDER BY sh) AS sid
        FROM (SELECT DISTINCT sh FROM dc_toks0)
        """
    )
    con.execute(
        """
        CREATE OR REPLACE TEMP TABLE dc_toks AS
        SELECT t.doc_id, d.sid FROM dc_toks0 t JOIN dc_dict d USING (sh)
        """
    )
    con.execute(
        """
        CREATE OR REPLACE TEMP TABLE dc_sizes AS
        SELECT doc_id, count(*) AS sz FROM dc_toks GROUP BY doc_id
        """
    )
    con.execute(
        """
        CREATE OR REPLACE TEMP TABLE dc_pairs AS
        SELECT doc_a, doc_b FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
          FROM dc_toks a JOIN dc_toks b ON a.sid = b.sid AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ) p
        JOIN dc_sizes sa ON doc_a = sa.doc_id
        JOIN dc_sizes sb ON doc_b = sb.doc_id
        WHERE n_shared * 1.0 / (sa.sz + sb.sz - n_shared) >= 0.6
        """
    )
    _label_prop(con, "dc_pairs", "dc", max_iters)
    con.execute(
        """
        CREATE OR REPLACE TEMP TABLE dc_final AS
        SELECT m.doc_id, m.cluster_id, CAST(c.n AS BIGINT) AS cluster_size
        FROM dc_membership m
        JOIN (SELECT cluster_id, count(*) AS n FROM dc_membership GROUP BY 1) c
          USING (cluster_id)
        """
    )
    return "dc_final"


def _gram_sql(where: str) -> str:
    gram = "concat_ws(' ', " + ", ".join(f"t[i+{j}]" for j in range(_CONTAM_N)) + ")"
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM documents WHERE {where}
        )
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                 generate_series(1, len(t) - {_CONTAM_N - 1}), i -> {gram}))) AS g
        FROM toks WHERE len(t) >= {_CONTAM_N}
    """


def twin_text_contamination(con) -> str:
    con.execute(
        f"""
        CREATE OR REPLACE TEMP TABLE tc_bench AS
        SELECT DISTINCT g FROM ({_gram_sql(f"doc_id % {_CONTAM_MOD} = 0")}) b
        """
    )
    con.execute(
        f"""
        CREATE OR REPLACE TEMP TABLE tc_cont AS
        SELECT DISTINCT gr.doc_id
        FROM ({_gram_sql(f"doc_id % {_CONTAM_MOD} <> 0")}) gr
        JOIN tc_bench USING (g)
        """
    )
    con.execute(
        f"""
        CREATE OR REPLACE TEMP TABLE tc_final AS
        SELECT d.source,
               count(*) AS n_docs,
               CAST(count(c.doc_id) AS BIGINT) AS n_contaminated,
               round(CAST(count(c.doc_id) AS DOUBLE) / count(*), 4) AS pct_contaminated
        FROM documents d LEFT JOIN tc_cont c ON d.doc_id = c.doc_id
        WHERE d.doc_id % {_CONTAM_MOD} <> 0
        GROUP BY d.source
        ORDER BY d.source
        """
    )
    return "tc_final"


_TWINS = {
    "dedup_minhash": twin_dedup_minhash,
    "dedup_clusters": twin_dedup_clusters,
    "text_contamination": twin_text_contamination,
}

# Keys whose RESULT is too large to distinct/fingerprint in one Spark
# pass on one box. join_band at the 100x proxy emits ~100x the 10x
# proxy's 179.5M pairs (pair count grows QUADRATICALLY in per-band
# part density, and the replicated price points make bands dense) —
# the single-shot distinct's shuffle+spill exhausted local disk twice.
# Sliced twin: Spark fingerprints disjoint `col % n = k` slices and
# sums. Exact and exhaustive — distinct commutes with filtering on a
# row-determined predicate, the md5_48 row-sum is associative over the
# disjoint union, and the slice predicate pushes onto the probe-side
# scan, so each pass shuffles ~1/n of the result. DuckDB needs NO
# slicing: its scalar (count, sum) aggregate STREAMS the join output —
# nothing is materialized — so the oracle side runs one shot. On a
# real cluster the single-shot Spark shuffle is fine (spill spreads
# across executors); slicing compensates for ONE box standing in.
# Slicing uses pmod(col, n) so negative keys land in a slice (Spark's
# `%` keeps the dividend's sign — `-5 % 32` would match no k in
# 0..n-1), and a final IS NULL pass picks up null keys, so the union
# of passes is exhaustive for ANY integer slice column, not just
# join_band's non-null positive part key (ADVICE r05).
_SLICED = {"join_band": ("part_a", 32)}


def run_sliced(spark, spec, sf_dir: str, col: str, n_slices: int):
    from pyspark.sql import functions as F

    t0 = time.time()
    with duck_connection(sf_dir) as con:
        o_cols, o_cls, o_n, o_fp = _duck_fingerprint(con, spec.oracle)
    print(f"#   oracle one-shot: {o_n}/{o_fp} ({time.time() - t0:.1f}s)", flush=True)
    tot_n = tot_fp = 0
    slice_preds = [F.pmod(F.col(col), F.lit(n_slices)) == k for k in range(n_slices)]
    slice_preds.append(F.col(col).isNull())  # cheap: pushes to the scan
    for k, pred in enumerate(slice_preds):
        t0 = time.time()
        sdf = spec.build(spark, sf_dir).filter(pred)
        s_cols, s_cls, s_n, s_fp = _spark_fingerprint(sdf)
        if (s_cols, s_cls) != (o_cols, o_cls):
            raise RuntimeError(f"slice {k}: schema/render mismatch {s_cols} vs {o_cols}")
        tot_n += s_n
        tot_fp += s_fp
        label = "null-key pass" if k == n_slices else f"slice {k + 1}/{n_slices}"
        print(f"#   {label}: spark {s_n}/{s_fp} ({time.time() - t0:.1f}s)", flush=True)
        # nudge ContextCleaner so the finished slice's shuffle files are
        # deleted before the next slice starts spilling — without this,
        # per-slice shuffle data accumulates for the whole loop and the
        # disk headroom the slicing bought is lost again
        spark.sparkContext._jvm.System.gc()
    return s_cols, (tot_n, tot_fp, o_n, o_fp)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_sf10_proxy"
    known = set(_TWINS) | set(_SLICED)
    only = (
        {k for arg in sys.argv[2:] for k in arg.split(",") if k}
        if len(sys.argv) > 2
        else known
    )
    unknown = only - known
    if unknown:
        raise SystemExit(f"no twin oracle for: {sorted(unknown)}")
    spark = get_spark("proxy_oracles")
    specs = all_queries()
    failures = 0
    for key in sorted(only):
        t0 = time.time()
        if key in _SLICED:
            col, n_slices = _SLICED[key]
            _, (s_n, s_fp, o_n, o_fp) = run_sliced(spark, specs[key], sf_dir, col, n_slices)
            ok = (s_n, s_fp) == (o_n, o_fp)
            if not ok:
                failures += 1
            print(
                f"[{'OK ' if ok else 'FAIL'}] {key}: spark={s_n}/{s_fp} "
                f"oracle={o_n}/{o_fp} ({n_slices} slices, {time.time() - t0:.1f}s)",
                flush=True,
            )
            continue
        sdf = specs[key].build(spark, sf_dir)
        s_cols, s_cls, s_n, s_fp = _spark_fingerprint(sdf)
        t_spark = time.time() - t0
        print(f"# {key}: spark n={s_n} fp={s_fp} ({t_spark:.1f}s)", flush=True)
        t0 = time.time()
        with duck_connection(sf_dir) as con:
            table = _TWINS[key](con)
            o_cols, o_cls, o_n, o_fp = _duck_fingerprint(con, f"SELECT * FROM {table}")
        t_duck = time.time() - t0
        ok = (s_cols, s_cls, s_n, s_fp) == (o_cols, o_cls, o_n, o_fp)
        if not ok:
            failures += 1
        print(
            f"[{'OK ' if ok else 'FAIL'}] {key}: spark={s_n}/{s_fp} "
            f"oracle={o_n}/{o_fp} (spark {t_spark:.1f}s, twin {t_duck:.1f}s)",
            flush=True,
        )
    print(f"done: {failures} failures / {len(only)} twin-checked", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
