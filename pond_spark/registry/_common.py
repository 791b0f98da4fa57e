"""Pieces the registry families share: the input readers, the
events→logs CTE and pinned time window, the exact-decimal type, the
throwaway-path helpers and the DuckDB twins of the JVM vector
expressions."""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession


#: events → pond log schema (see pond_spark.schema.events_as_logs)
LOGS_CTE = (
    'logs AS (SELECT event_id AS id, ts AS "timestamp", event_type AS site, '
    "CAST(user_id AS VARCHAR) AS remote_host, value, props AS message FROM events)"
)

SINCE = dt.datetime(2024, 1, 5)
UNTIL = dt.datetime(2024, 1, 12)

_D = "decimal(18,4)"


def _scratch_path(sf_dir: str, name: str) -> str:
    """``<tmp>/<name>_<md5(sf_dir)[:8]>``: where a query keeps what it
    builds per sf dir (sketch tables, indexes, catalogs)."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(tempfile.gettempdir(), f"{name}_{tag}")


def _clean_catalog_twin(path: str, vectors: bool = False) -> None:
    """Remove a throwaway twin catalog and EVERY sidecar it can leave
    behind — params/advise/retention sidecars, compaction remnants,
    and (ADVICE r9, medium) the ``.lease.json`` files CatalogStore's
    lease-by-default mutations create: a killed driver leaves a
    live-looking lease (different pid ⇒ not re-entrant), and every
    correctness/bench re-run within ttl_s would fail LeaseHeldError if
    the lease survived the cleanup. ``vectors=True`` also clears the
    ``.vectors`` sibling's family (the verified-gate store)."""
    import shutil

    roots = [path] + ([path + ".vectors"] if vectors else [])
    suffixes = (
        "", "._old", "._compact", ".params.json", ".lease.json",
        ".advise.jsonl", ".advise.jsonl._staged",
        ".retention.jsonl", ".retention.jsonl._staged",
    )
    for root in roots:
        for suf in suffixes:
            p = root + suf
            if os.path.isdir(p):
                shutil.rmtree(p)
            elif os.path.exists(p):
                os.remove(p)


def _oracle_sf_dir() -> str:
    """The sf dir the twin builders read sampled literals from:
    ``SPARK_GRAFT_ORACLE_SF_DIR``, else sf0.01 (the sf the contract's
    oracle runs at)."""
    return os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


#: deterministic 64-dim query vector shared by Spark and the oracle
QUERY_VEC = [(i % 7) / 7.0 for i in range(64)]
_QVEC_SQL = "[" + ", ".join(str(v) for v in QUERY_VEC) + "]"


# -- DuckDB twins of the JVM array expressions in similarity.brute:
# both engines fold strictly left-to-right in double, so dot/norm/cosine
# are bit-identical (proven by the green embedding_topk hash match).


def _sql_vec(vec) -> str:
    return "[" + ", ".join(repr(float(v)) for v in vec) + "]"


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), "
        "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))), (a,b)->a+b)"
    )


def _sql_norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(0.0, list_transform({a}, "
        "x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))), (a,b)->a+b))"
    )


def _sql_cos(a: str, b: str) -> str:
    return f"round({_sql_dot(a, b)} / ({_sql_norm(a)} * {_sql_norm(b)}), 6)"


def _sql_bucket(planes, col: str = "embedding") -> str:
    """RHP signature: bit i = sign of dot(vec, plane_i) — the DuckDB
    twin of similarity.lsh.rhp_bucket over the same hyperplanes, folded
    in the same ascending order."""
    return " + ".join(
        f"(CASE WHEN {_sql_dot(col, _sql_vec(p))} >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
