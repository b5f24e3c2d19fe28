"""Password manager (SURVEY W11 — passwordmanager.cpp; salted-hash table
database.cpp:59-64).  Out-of-engine auth in the reference; kept as a tiny
snapshot table here for surface parity."""

from __future__ import annotations

import hashlib
import os
import secrets

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from dronedb_spark.catalog.store import SnapshotTable

_SCHEMA = T.StructType(
    [
        T.StructField("salt", T.StringType(), False),
        T.StructField("hash", T.StringType(), False),
    ]
)


def _hash(salt: str, password: str) -> str:
    return hashlib.sha256((salt + password).encode()).hexdigest()


class PasswordManager:
    def __init__(self, spark: SparkSession, root: str):
        self.table = SnapshotTable(
            spark, os.path.join(root, ".ddb_spark", "passwords"), _SCHEMA
        )
        self.spark = spark

    def append(self, password: str) -> None:
        salt = secrets.token_hex(16)
        row = self.spark.createDataFrame([(salt, _hash(salt, password))], schema=_SCHEMA)
        cur = self.table.read()
        self.table.write(cur.unionByName(row))

    def verify(self, password: str) -> bool:
        rows = self.table.read().collect()
        if not rows:
            return True  # no passwords set → open dataset
        return any(_hash(r["salt"], password) == r["hash"] for r in rows)

    def clear(self) -> None:
        self.table.write(self.spark.createDataFrame([], schema=_SCHEMA))


# ------------------------------------------------------------------ check


def _register_check() -> None:
    import tempfile

    from pyspark.sql import DataFrame

    from dronedb_spark.suite import check

    _ORACLE = """
        SELECT stage, candidate, ok FROM (VALUES
            ('empty', '-', TRUE),
            ('set', 'alpha', TRUE),
            ('set', 'beta', TRUE),
            ('set', 'gamma', FALSE),
            ('cleared', 'gamma', TRUE)
        ) AS t(stage, candidate, ok)
        ORDER BY stage, candidate"""

    @check("passwords_verify", oracle=_ORACLE)
    def q_passwords_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
        """W11 (passwordmanager.cpp): append/verify/clear truth table —
        empty table admits anyone (open dataset), any stored password
        verifies, wrong ones don't, clear() reopens.  Salts are random
        per run; the salted-hash scheme makes the OUTCOMES deterministic,
        which is exactly what the check pins."""
        root = tempfile.mkdtemp(prefix="pw_")
        pm = PasswordManager(spark, root)
        rows = [("empty", "-", pm.verify("-"))]
        pm.append("alpha")
        pm.append("beta")
        rows += [("set", c, pm.verify(c)) for c in ("alpha", "beta", "gamma")]
        pm.clear()
        rows.append(("cleared", "gamma", pm.verify("gamma")))
        return spark.createDataFrame(
            rows, "stage string, candidate string, ok boolean"
        ).orderBy("stage", "candidate")


_register_check()
