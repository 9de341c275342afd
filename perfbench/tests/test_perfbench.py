"""The benchmark's own tests: fingerprint, input generator, failure count.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import collections
import filecmp
import glob
import os

import pyarrow.parquet as pq
import pytest

from mapreduce_rust_spark.core.apps import wc_map
from perfbench import datagen
from perfbench.harness import Execution, count_failures, fingerprint


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession
    s = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC")
         .getOrCreate())
    yield s
    s.stop()


ROWS = [
    (1, "a", 0.1 + 0.2, [1.5, 2.25], {"x": 1.0}, (7, 0.5)),
    (2, "b", None, [], {"y": 2.0, "z": None}, (8, None)),
    (3, None, -3.75e-12, None, None, None),
    (4, "d", 1e300, [float("nan")], {}, (9, 2.0)),
]
SCHEMA = ("id long, s string, d double, arr array<double>, "
          "m map<string,double>, st struct<i:int,f:double>")


def test_fingerprint_ignores_row_order_and_partitioning(spark):
    base = fingerprint(spark.createDataFrame(ROWS, SCHEMA))
    assert base[0] == len(ROWS)
    shuffled = spark.createDataFrame(list(reversed(ROWS)), SCHEMA)
    assert fingerprint(shuffled) == base
    assert fingerprint(shuffled.repartition(3)) == base
    assert fingerprint(shuffled.coalesce(1)) == base


def test_fingerprint_ignores_last_ulp_of_doubles(spark):
    rows = [(r[0], r[1], None if r[2] is None else r[2] * (1 + 2 ** -52)) + r[3:]
            for r in ROWS]
    assert fingerprint(spark.createDataFrame(rows, SCHEMA)) == \
        fingerprint(spark.createDataFrame(ROWS, SCHEMA))


@pytest.mark.parametrize("col,value", [
    (0, 5), (1, "B"), (2, 0.3000001), (3, [1.5, 2.0]),
    (4, {"x": 1.5}), (5, (7, 0.25)),
])
def test_fingerprint_changes_when_one_value_changes(spark, col, value):
    changed = [list(r) for r in ROWS]
    changed[0][col] = value
    assert fingerprint(spark.createDataFrame([tuple(r) for r in changed], SCHEMA)) != \
        fingerprint(spark.createDataFrame(ROWS, SCHEMA))


def test_generator_is_deterministic_per_seed(tmp_path):
    a = datagen.generate(str(tmp_path / "a"), 7, 0.002, corpus_words=5_000)
    b = datagen.generate(str(tmp_path / "b"), 7, 0.002, corpus_words=5_000)
    c = datagen.generate(str(tmp_path / "c"), 8, 0.002, ("documents",), corpus_words=5_000)
    d = datagen.generate(str(tmp_path / "d"), 7, 0.002, ("documents",), part=1,
                         corpus_words=5_000)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    assert datagen.word_counts(a) != datagen.word_counts(c)
    assert datagen.word_counts(a) != datagen.word_counts(d)


def test_subset_of_tables_matches_full_generation(tmp_path):
    full = datagen.generate(str(tmp_path / "full"), 3, 0.002)
    part = datagen.generate(str(tmp_path / "part"), 3, 0.002, ("documents", "events"))
    for t in ("documents", "events"):
        assert pq.read_table(os.path.join(full, f"{t}.parquet")).equals(
            pq.read_table(os.path.join(part, f"{t}.parquet")))


def test_generator_counts_equal_reference_tokenization(tmp_path):
    d = datagen.generate(str(tmp_path / "g"), 11, 0.002, ("documents",),
                         corpus_words=50_000)
    paths = sorted(glob.glob(os.path.join(d, "gut-*.txt")))
    from_files = collections.Counter()
    for path in paths:
        with open(path) as f:
            from_files.update(k for k, _ in wc_map(f.read()))
    assert len(paths) == datagen.GUT_FILES
    assert dict(from_files) == datagen.word_counts(d)
    assert sum(from_files.values()) == 50_000
    assert len(from_files) > 5_000  # a Zipf vocabulary, not a toy one


def test_documents_have_the_fixture_shape(tmp_path):
    d = datagen.generate(str(tmp_path / "g"), 5, 0.04, ("documents",))
    texts = pq.read_table(os.path.join(d, "documents.parquet")).column("text").to_pylist()
    near = [t for t in texts if t.endswith(" dup")]
    assert set(" ".join(texts).split()) == set(datagen.DOC_WORDS) | {"dup"}
    assert 0.03 < len(near) / len(texts) < 0.07
    earlier = set()
    for t in texts:
        if t.endswith(" dup"):
            assert t[:-4] in earlier
        earlier.add(t)


def test_corrupted_expected_result_counts_as_failure():
    execs = [Execution(n, p, "llm", 0.1, 0.2, result=(10, str(i)))
             for p in ("cold", "warm1") for i, n in enumerate(("a", "b", "c"))]
    expected = {e.name: e.result for e in execs}
    assert count_failures(execs, expected) == []
    expected["b"] = (10, "999")
    failed = count_failures(execs, expected)
    assert {e.name for e in failed} == {"b"}
    assert len(failed) / len(execs) > 0


def test_raised_or_unverified_query_counts_as_failure():
    ok = Execution("a", "cold", "core", 0.1, 0.1, result=1)
    boom = Execution("b", "cold", "core", 0.1, 0.0, error="ValueError: x")
    unverified = Execution("c", "cold", "core", 0.1, 0.1, result=3)
    assert count_failures([ok, boom, unverified], {"a": 1, "b": None}) == [boom, unverified]
