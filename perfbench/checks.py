"""Output checks. Each returns a list of problems; empty means correct.

* ``oracle_problems`` compares a query's Spark rows with its DuckDB oracle
  by the rules of ``tests/oracle_utils.compare_query``: sorted lower-case
  column names, row count, and exact values of the sorted rows.
* ``minhash_problems`` checks the invariants ``tests/test_llm_pipeline_ops``
  pins for ``minhash_lsh_candidates``, which has no oracle.
* ``replay_sql`` states a merged table's expected final state: DuckDB
  replays the base rows and every batch, last writer wins per key.
"""

from __future__ import annotations

from pathlib import Path

from tests.oracle_utils import _rows_to_sorted

PLANTED_OFFSET = 1_000_000  # minhash_lsh_candidates re-injects doc_id % 5 == 0 here


def duck_connect(tables_dir: Path):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in ("region nation customer supplier part orders lineitem events "
                 "documents embeddings").split():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{tables_dir / (name + '.parquet')}')")
    return con


def oracle_problems(cols: list[str], rows: list[tuple], duck, oracle_sql: str) -> list[str]:
    tbl = duck.execute(oracle_sql).arrow()
    duck_cols = [c.lower() for c in tbl.column_names]
    duck_rows = [tuple(d.values()) for d in tbl.to_pylist()]
    if sorted(cols) != sorted(duck_cols):
        return [f"columns differ: spark={sorted(cols)} duck={sorted(duck_cols)}"]
    problems = []
    if len(rows) != len(duck_rows):
        problems.append(f"row count differs: spark={len(rows)} duck={len(duck_rows)}")
    bad = [(a, b) for a, b in zip(_rows_to_sorted(rows, cols), _rows_to_sorted(duck_rows, duck_cols))
           if a != b]
    problems += [f"row: spark={a} duck={b}" for a, b in bad[:3]]
    if len(bad) > 3:
        problems.append(f"... {len(bad)} mismatching rows total")
    return problems


def minhash_problems(cols: list[str], rows: list[tuple], n_docs: int,
                     jaccard_cols: list[str], jaccard_rows: list[tuple]) -> list[str]:
    """Every planted exact copy is found with estimate >= 0.99, and no
    candidate among original docs overestimates its true n-gram Jaccard
    by more than 0.45."""
    c = {name: i for i, name in enumerate(cols)}
    a, b, est = c["doc_a"], c["doc_b"], c["est_jaccard"]
    hits = sum(1 for r in rows if r[b] == r[a] + PLANTED_OFFSET and r[est] >= 0.99)
    problems = []
    if hits != n_docs // 5:
        problems.append(f"planted duplicates found {hits}/{n_docs // 5}")
    j = {name: i for i, name in enumerate(jaccard_cols)}
    true = {(r[j["doc_a"]], r[j["doc_b"]]): r[j["jaccard"]] for r in jaccard_rows}
    over = [(r[a], r[b]) for r in rows
            if r[a] < PLANTED_OFFSET and r[b] < PLANTED_OFFSET
            and r[est] > true.get((r[a], r[b]), 0.0) + 0.45]
    if over:
        problems.append(f"{len(over)} candidates overestimate Jaccard, e.g. {over[:3]}")
    return problems


def replay_sql(base_sql: str, batch_files: list[Path], key: str, cols: list[str]) -> str:
    """Last-writer-wins final state of ``base_sql`` after every batch."""
    sel = ", ".join(cols)
    parts = [f"SELECT {sel}, 0 AS _b FROM ({base_sql})"]
    parts += [f"SELECT {sel}, {i + 1} AS _b FROM read_parquet('{p}')"
              for i, p in enumerate(batch_files)]
    return (f"SELECT {sel} FROM ({' UNION ALL '.join(parts)}) "
            f"QUALIFY row_number() OVER (PARTITION BY {key} ORDER BY _b DESC) = 1")


def state_problems(spark_rows: list[tuple], duck_rows: list[tuple]) -> list[str]:
    s, d = sorted(spark_rows), sorted(duck_rows)
    if len(s) != len(d):
        return [f"row count differs: spark={len(s)} duck={len(d)}"]
    bad = [(a, b) for a, b in zip(s, d) if a != b]
    return [f"{len(bad)} rows differ, e.g. spark={bad[0][0]} duck={bad[0][1]}"] if bad else []
