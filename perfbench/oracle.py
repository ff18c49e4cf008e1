"""Output checks: each timed registry item against DuckDB on the same
parquet files, compared as an order-insensitive hash of the canonical
result (column names, normalized dtypes and sorted values), the same
comparison ``tools/check_correctness.py`` makes.

A legacy leg (a query folded into a battery entry) has no oracle of its
own: it is checked against its battery's oracle rows for the leg's tag,
or against the leg's own oracle SQL where the battery joins its legs
instead of tagging them.
"""

from __future__ import annotations

import hashlib

import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

#: legacy leg -> ("tag", battery entry, tag column, tag) or
#: ("sql", module under queries/, oracle constant)
LEG_ORACLES: dict[str, tuple[str, str, str] | tuple[str, str, str, str]] = {
    "q3_shipping_priority": ("tag", "q3_q5_join_battery", "variant", "q3"),
    "q5_local_supplier_volume": ("tag", "q3_q5_join_battery", "variant", "q5"),
    "sim_bruteforce_topk": ("tag", "sim_ann_battery", "variant", "bruteforce"),
    "sim_ivf_topk": ("tag", "sim_ann_battery", "variant", "ivf"),
    "dedup_minhash_lsh": ("tag", "dedup_pairs_battery", "method", "minhash_lsh"),
    "w1_topk_per_group": ("sql", "windows_q", "_W1_ORACLE"),
    "w2_running_revenue": ("sql", "windows_q", "_W2_ORACLE"),
    "text_doc_profile": ("sql", "text_q", "_DOC_PROFILE_ORACLE"),
}

_DTYPES = {
    "int32": "int",
    "int64": "bigint",
    "object": "string",
    "float64": "double",
    "float32": "float",
    "bool": "boolean",
    "datetime64[ns]": "timestamp",
    "datetime64[us]": "timestamp",
}


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sorted columns, normalized dtypes, sorted rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        dt = str(df[c].dtype)
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif dt.startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif dt in ("int32", "int64", "Int64", "Int32", "uint64"):
            df[c] = df[c].astype("int64")
        elif dt == "float32":
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


def result_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: schema plus values."""
    c = canon(df)
    h = hashlib.sha256()
    h.update(repr([(n, _DTYPES.get(str(c[n].dtype), str(c[n].dtype))) for n in c.columns]).encode())
    h.update(c.to_csv(index=False, na_rep="<null>").encode())
    return h.hexdigest()


class Oracle:
    """DuckDB over one generated table directory; each expected hash is
    computed once and reused by every pass."""

    def __init__(self, sf_dir: str):
        import duckdb

        from vbb_data_pipeline_spark.queries import all_queries

        self.registry = all_queries()
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for t in TABLES:
            self.con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        self._expected: dict[str, str] = {}

    def frame(self, name: str) -> pd.DataFrame:
        if name in self.registry and self.registry[name].oracle is not None:
            return self.con.sql(self.registry[name].oracle).df()
        kind, *ref = LEG_ORACLES[name]
        if kind == "sql":
            import importlib

            mod = importlib.import_module(f"vbb_data_pipeline_spark.queries.{ref[0]}")
            return self.con.sql(getattr(mod, ref[1])).df()
        battery, tag_col, tag = ref
        rows = self.con.sql(self.registry[battery].oracle).df()
        return rows[rows[tag_col] == tag].drop(columns=[tag_col])

    def expected(self, name: str, columns: tuple[tuple[str, str], ...] = ()) -> str:
        """Oracle hash of ``name``; for a leg, projected on ``columns``
        (name, dtype) of the leg's output. A battery column that is NULL
        in other legs' rows reads back as float: cast it to the leg's
        integer dtype when no NULL is left."""
        key = (name, columns)
        if key not in self._expected:
            frame = self.frame(name)
            if columns:
                frame = frame[[c for c, _ in columns]].copy()
                for c, dt in columns:
                    if dt.startswith("int") and frame[c].dtype == "float64" and not frame[c].isna().any():
                        frame[c] = frame[c].astype(dt)
            self._expected[key] = result_hash(frame)
        return self._expected[key]

    def check(self, name: str, got: pd.DataFrame) -> str | None:
        """None when ``got`` matches the oracle, else a short reason.

        A battery's oracle rows carry every leg's columns; a leg is
        compared on its own columns only."""
        cols = tuple((c, str(got[c].dtype)) for c in got.columns) if name in LEG_ORACLES else ()
        try:
            want = self.expected(name, cols)
        except KeyError as e:
            return f"oracle has no column {e}"
        return compare(got, want)


def compare(got: pd.DataFrame, want_hash: str) -> str | None:
    have = result_hash(got)
    if have != want_hash:
        return f"hash {have[:12]} != oracle {want_hash[:12]} ({len(got)} rows)"
    return None
