"""Output checks, run after the timed window.

Results are compared with DuckDB oracles under tools/compare.py's
semantics (columns sorted by name, rows sorted, cells compared exactly).
Each check is one (name, ok, detail) triple; a failed check counts as a
failed operation.
"""
import importlib.util
from pathlib import Path

import duckdb
import pandas as pd


def _compare_module(root: Path):
    spec = importlib.util.spec_from_file_location("graft_compare", root / "tools" / "compare.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _con(root: Path, threads: int):
    con = duckdb.connect()
    con.execute(f"SET threads={max(1, threads)}")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{root / '.bench_build' / 'duckdb_tmp'}'")
    return con


def _parquet(path) -> str:
    """DuckDB source for a parquet file or a directory of part files."""
    p = Path(path)
    return f"read_parquet('{p}/**/*.parquet')" if p.is_dir() else f"read_parquet('{p}')"


def _lake_views(con, lake: Path):
    for f in sorted(lake.glob("*.parquet")):
        con.execute(f"CREATE OR REPLACE VIEW {f.stem} AS SELECT * FROM {_parquet(f)}")


def same_frame(cmp, a: pd.DataFrame, b: pd.DataFrame) -> str:
    """'' when equal under compare.py's semantics, else the first difference."""
    a, b = cmp.canon(a), cmp.canon(b)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            if not cmp.cells_equal(x, y):
                return f"col {c} row {i}: {x!r} vs {y!r}"
    return ""


def _oracle(cmp, con, name, sql, got: pd.DataFrame):
    try:
        diff = same_frame(cmp, got, con.execute(sql).fetchdf())
    except Exception as e:  # an oracle that cannot run is a failed check
        diff = f"{type(e).__name__}: {e}"
    return (f"oracle:{name}", diff == "", diff or f"{len(got)} rows match")


def analyst(root: Path, res, lake: Path, threads: int):
    cmp, con = _compare_module(root), _con(root, threads)
    _lake_views(con, lake)
    out = []
    for q in res["checks"]["queries"]:
        d = Path(res["checks"]["results"]) / q
        if not d.is_dir():
            out.append((f"oracle:{q}", False, "no result written"))
            continue
        out.append(_oracle(cmp, con, q, res["oracle_sql"][q], pd.read_parquet(d)))
    return out


def release(root: Path, res, threads: int):
    cmp, con = _compare_module(root), _con(root, threads)
    c = res["checks"]
    out_dir = Path(c["out"])
    shards = (f"read_parquet('{out_dir}/shards/**/*.parquet', "
              "hive_partitioning = true)")
    clean = _parquet(out_dir / "clean_ids")
    checks = []

    dup = con.execute(f"SELECT count(*) FROM (SELECT doc_id FROM {shards} "
                      "GROUP BY 1 HAVING count(*) > 1)").fetchone()[0]
    checks.append(("shards:each_doc_once", dup == 0, f"{dup} documents repeated"))
    diff = con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT doc_id FROM {shards} EXCEPT "
        f"SELECT doc_id FROM {clean})), (SELECT count(*) FROM (SELECT doc_id "
        f"FROM {clean} EXCEPT SELECT doc_id FROM {shards}))").fetchone()
    checks.append(("shards:clean_corpus_set", diff == (0, 0),
                   f"{diff[0]} extra, {diff[1]} missing vs q_clean_corpus"))

    manifest = con.execute(f"SELECT * FROM {_parquet(out_dir / 'manifest')}").fetchdf()
    recount = con.execute(
        f"SELECT CAST(shard_id AS BIGINT) AS shard_id, count(*) AS n_docs, "
        f"CAST(sum(n_tokens) AS BIGINT) AS n_tokens, min(shuffle_key) AS first_key, "
        f"max(shuffle_key) AS last_key FROM {shards} GROUP BY 1").fetchdf()
    d = same_frame(cmp, manifest, recount)
    checks.append(("shards:manifest_matches_files", d == "", d or f"{len(manifest)} shards"))

    _lake_views(con, Path(c["l1"]))
    checks.append(_oracle(cmp, con, "q_decontaminate", res["oracle_sql"]["q_decontaminate"],
                          pd.read_parquet(out_dir / "decontamination")))
    _lake_views(con, Path(c["l2"]))
    written = con.execute(
        f"SELECT doc_id, shuffle_key, n_tokens, CAST(shard_id AS BIGINT) AS shard_id "
        f"FROM {shards}").fetchdf()
    checks.append(_oracle(cmp, con, "q_shard_assign", res["oracle_sql"]["q_shard_assign"],
                          written))
    return checks


def stream(root: Path, res, threads: int):
    cmp, con = _compare_module(root), _con(root, threads)
    c = res["checks"]
    lake, audit, fp = (_parquet(c["store_lake"]), _parquet(c["store_audit"]),
                       _parquet(c["store_fp"]))
    checks = []
    for name, src in (("lake", lake), ("audit", audit), ("fp", fp)):
        dup = con.execute(f"SELECT count(*) FROM (SELECT doc_id FROM {src} "
                          "GROUP BY 1 HAVING count(*) > 1)").fetchone()[0]
        checks.append((f"stream:{name}_each_doc_once", dup == 0, f"{dup} repeated"))
    diff = con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT doc_id FROM {lake} EXCEPT SELECT doc_id "
        f"FROM {audit} WHERE admitted)), (SELECT count(*) FROM (SELECT doc_id FROM "
        f"{audit} WHERE admitted EXCEPT SELECT doc_id FROM {lake}))").fetchone()
    checks.append(("stream:lake_equals_admitted", diff == (0, 0),
                   f"{diff[0]} landed but not admitted, {diff[1]} admitted but not landed"))
    mism = c["gate_mismatches"]
    checks.append(("stream:gate_equals_batch_gate", mism == 0, f"{mism} verdicts differ"))
    con.execute(f"CREATE VIEW documents AS SELECT doc_id, text FROM {audit}")
    got = con.execute(f"SELECT doc_id, quality_score FROM {audit}").fetchdf()
    sql = ("SELECT doc_id, quality_score FROM (" + res["oracle_sql"]["q_quality_score"]
           + ")")
    checks.append(_oracle(cmp, con, "q_quality_score", sql, got))
    return checks
