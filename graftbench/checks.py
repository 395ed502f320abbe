"""Output checks, run outside the timed region.

Registry queries are compared with their DuckDB oracle through the same
order-insensitive canonical hash the repository's oracle sweep uses
(``tools/check_oracles.canon``); a query without an oracle gets a
rows-only check. The refresh workload's final snapshot is compared with
one full GROUP BY over every batch it folded. Timed statements are held
to the row counts of the checked results.
"""

from __future__ import annotations

import os
import sys
import time
from collections import Counter

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _canon():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracles import canon

    return canon


def check_registry(spark, data_dir: str, names, log) -> tuple[dict[str, int], int, float]:
    """Run each named query once through ``toPandas`` and check it.

    Returns the row count of each query that ran, the number of queries
    that failed, and the seconds the check itself took (DuckDB and the
    canonical hashes), which are not the engine's work."""
    t = time.perf_counter()
    import duckdb

    from presto_cached_examples_spark import registry
    from presto_cached_examples_spark.sources.catalog import TABLES, table_path

    canon = _canon()
    specs = registry.all_specs()
    rows: dict[str, int] = {}
    failed = 0
    with duckdb.connect() as con:
        for t_name in TABLES:
            con.sql(f"CREATE VIEW {t_name} AS SELECT * FROM '{table_path(data_dir, t_name)}'")
        check_s = time.perf_counter() - t
        for name in names:
            spec = specs[name]
            try:
                got = spec.fn(spark, data_dir).toPandas()
                t = time.perf_counter()
                rows[name] = len(got)
                if spec.oracle is None:
                    ok = len(got) > 0
                else:
                    ok = canon(got) == canon(con.sql(spec.oracle).df())
                check_s += time.perf_counter() - t
            except Exception as e:  # one failing query must not hide the others
                log(f"check {name}: raised {type(e).__name__}: {e}")
                ok = False
            if not ok:
                log(f"check {name}: MISMATCH")
                failed += 1
    return rows, failed, check_s


def expected_aggregate(events: pd.DataFrame, folds: list[int]) -> pd.DataFrame:
    """The full GROUP BY (user_id, event_type) over every folded batch,
    a batch folded k times counting k times."""
    times = Counter(folds)
    ev = events[events["batch"].isin(times)].copy()
    k = ev["batch"].map(times)
    ev["n"] = k
    ev["sum_v"] = ev["value"] * k
    g = ev.groupby(["user_id", "event_type"]).agg(
        n=("n", "sum"), sum_v=("sum_v", "sum"), min_v=("value", "min"), max_v=("value", "max")
    )
    g["avg_v"] = g["sum_v"] / g["n"]
    return g.reset_index()


def snapshot_matches(snapshot: pd.DataFrame, expected: pd.DataFrame, log) -> bool:
    """Counts, minima and maxima must match exactly; sums and means are
    rounded to cents by the engine and summed in another order here, so
    they may differ by one cent."""
    keys = ["user_id", "event_type"]
    if len(snapshot) != len(expected):
        log(f"snapshot has {len(snapshot)} groups, expected {len(expected)}")
        return False
    m = snapshot.merge(expected, on=keys, suffixes=("", "_exp"), how="inner")
    if len(m) != len(expected):
        log("snapshot groups differ from the expected groups")
        return False
    bad = (m["n"] != m["n_exp"]) | (m["min_v"] != m["min_v_exp"].round(2)) | (m["max_v"] != m["max_v_exp"].round(2))
    for col in ("sum_v", "avg_v"):
        bad |= (m[col] - m[f"{col}_exp"]).abs() > 0.0100001 + 1e-9 * m[f"{col}_exp"].abs()
    if bad.any():
        log(f"snapshot: {int(bad.sum())} groups differ, first: {m[bad].head(1).to_dict('records')}")
        return False
    return True


def joined_groups(events: pd.DataFrame, folds: list[int], keys: set) -> int:
    """Rows of the reader after ``folds``: the (user_id, event_type)
    groups of the folded batches whose user is in the dimension."""
    ev = events[events["batch"].isin(set(folds)) & events["user_id"].isin(keys)]
    return len(ev[["user_id", "event_type"]].drop_duplicates())
