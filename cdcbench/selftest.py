"""Self-test of the benchmark's checker (``fold.py``).

    python3 cdcbench/selftest.py

The expected-state fold, applied to a small hand-written event list, must
give the hand-computed table; ``compare`` must accept that table and
reject each perturbed copy. Exits 0 when every check holds.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

from pyspark.sql import SparkSession

from fold import clean, compare, expected_state

HERE = os.path.dirname(os.path.abspath(__file__))
KEY = ["repo", "path"]
EVENT_SCHEMA = ("repo string, path string, offset long, op string, "
                "commit string, content_sha string, lang string, "
                "lang_1 string, stars long")
TABLE_SCHEMA = ("repo string, path string, commit string, lang_1 string, "
                "content_sha string, stars long")
FINAL = [("commit", "string"), ("lang_1", "string"),
         ("content_sha", "string"), ("stars", "bigint")]


def sha(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def k(n: int) -> tuple[str, str]:
    return ("org/r", f"src/k{n}.py")


#: k1 is created, updated, deleted and created again; k2 is last written
#: before ``lang`` is renamed to ``lang_1`` and ``stars`` is added (at
#: offset 6), so it must read through both; k4 ends deleted
EVENTS = [
    (*k(1), 1, "c", "a1", sha("alpha"), "py", None, None),
    (*k(2), 2, "c", "b1", sha("beta"), "go", None, None),
    (*k(1), 3, "u", "a2", sha("alpha2"), "rs", None, None),
    (*k(1), 4, "d", None, None, None, None, None),
    (*k(3), 5, "c", "c1", sha("gamma"), "ts", None, None),
    (*k(1), 6, "c", "a3", sha("alpha3"), None, "c", 7),
    (*k(3), 7, "u", "c2", sha("gamma2"), None, "java", 9),
    (*k(4), 8, "c", "d1", sha("delta"), None, "py", 1),
    (*k(4), 9, "d", None, None, None, None, None),
]

TABLE = [
    (*k(1), "a3", "c", sha("alpha3"), 7),
    (*k(2), "b1", "go", sha("beta"), None),
    (*k(3), "c2", "java", sha("gamma2"), 9),
]

PERTURBED = {
    "content altered": [(*k(1), "a3", "c", sha("alpha2"), 7), *TABLE[1:]],
    "row missing": [TABLE[0], TABLE[2]],
    "deleted row resurrected": [*TABLE, (*k(4), "d1", "py", sha("delta"), 1)],
    "key held twice": [*TABLE, TABLE[2]],
}


def main() -> int:
    work = os.path.join(HERE, "_selftest")
    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.local.dir", work)
             .config("spark.sql.shuffle.partitions", "1")
             .getOrCreate())
    failures = []
    try:
        events = spark.createDataFrame(EVENTS, EVENT_SCHEMA)
        expected = expected_state(events, KEY, FINAL, {"lang_1": ["lang"]})
        got = sorted(tuple(r) for r in expected.collect())
        if got != sorted(TABLE):
            failures.append(f"fold gave {got}, hand-computed {TABLE}")
        res = compare(expected, spark.createDataFrame(TABLE, TABLE_SCHEMA),
                      KEY)
        if not clean(res):
            failures.append(f"the hand-computed table was rejected: {res}")
        for what, rows in PERTURBED.items():
            res = compare(expected, spark.createDataFrame(rows, TABLE_SCHEMA),
                          KEY)
            if clean(res):
                failures.append(f"{what}: accepted")
            else:
                print(f"rejected as expected, {what}: {res}")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print(f"FAIL: {f}")
    print("selftest", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
