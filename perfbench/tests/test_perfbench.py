"""Tests of the benchmark's own parts: the Spark metric-string parser, the
median and quartile summaries, the host-speed scaling, the per-thread JIT
CPU reading, and the seeded input generators."""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

import gen  # noqa: E402
import hostspeed  # noqa: E402
import jvm  # noqa: E402
from sparkstatus import parse_metric, parse_stats  # noqa: E402
from summary import median, quartiles, spread  # noqa: E402


# -- metric strings ---------------------------------------------------------

@pytest.mark.parametrize("text, value", [
    ("158,922", 158922.0),
    ("8", 8.0),
    ("0 ms", 0.0),
    ("648 ms", 0.648),
    ("12.7 s", 12.7),
    ("1.5 m", 90.0),
    ("2.00 h", 7200.0),
    ("512.0 B", 512.0),
    ("38.1 MiB", 38.1 * 2 ** 20),
    ("1119.0 KiB", 1119.0 * 2 ** 10),
    ("1.2 GiB", 1.2 * 2 ** 30),
])
def test_plain_values(text, value):
    assert parse_metric(text) == pytest.approx(value)
    assert parse_stats(text) == pytest.approx(
        {"total": value, "min": value, "med": value, "max": value})


def test_task_distribution():
    text = ("total (min, med, max (stageId: taskId))\n"
            "10.0 s (533 ms, 2.5 s, 3.1 s (stage 3.0: task 12))")
    assert parse_stats(text) == pytest.approx(
        {"total": 10.0, "min": 0.533, "med": 2.5, "max": 3.1})
    assert parse_metric(text) == pytest.approx(10.0)


def test_size_distribution_ignores_stage_and_task_ids():
    text = ("total (min, med, max (stageId: taskId))\n"
            "4.7 MiB (584.9 KiB, 590.0 KiB, 612.3 KiB (stage 17.0: task 99))")
    got = parse_stats(text)
    assert got["total"] == pytest.approx(4.7 * 2 ** 20)
    assert got["max"] == pytest.approx(612.3 * 2 ** 10)


@pytest.mark.parametrize("text", ["", "n/a", "3 parsecs",
                                  "total (min, med, max)\n1 s (2 s)"])
def test_malformed_strings_raise(text):
    with pytest.raises(ValueError):
        parse_stats(text)


# -- summaries --------------------------------------------------------------

def test_median_and_quartiles_match_statistics():
    values = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.6, 5.3, 5.8, 9.7]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert quartiles(values) == (q1, q2, q3)
    assert median(values) == statistics.median(values) == q2
    assert spread(values) == pytest.approx((q3 - q1) / q2)


def test_single_value_is_its_own_quartiles():
    assert quartiles([2.5]) == (2.5, 2.5, 2.5)
    assert spread([2.5]) == 0.0


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        median([])


def test_spread_of_steady_and_noisy_draws():
    assert spread([1.0, 1.0, 1.0, 1.0]) == 0.0
    assert spread([1.0, 1.01, 0.99, 1.0]) < spread([1.0, 1.5, 0.5, 1.0])


# -- host speed and CPU readings ---------------------------------------------

def test_slowdown_is_median_reference_time_over_calm_time():
    ref = hostspeed.REFERENCE_S
    assert hostspeed.slowdown([ref, ref, ref]) == pytest.approx(1.0)
    assert hostspeed.slowdown([ref, 2 * ref, 2 * ref]) == pytest.approx(2.0)


def test_reference_task_takes_cpu_time():
    assert hostspeed.reference_task() > 0.0


def test_jit_delta_compares_thread_by_thread():
    before = {"11": 4.0, "12": 9.0}
    # 12 ended (its time is left out), 13 started
    after = {"11": 4.5, "13": 0.25}
    assert jvm.jit_cpu_delta_s(before, after) == pytest.approx(0.75)


# -- generators ----------------------------------------------------------------

def test_documents_are_deterministic_per_seed():
    assert gen.documents(7, 300).equals(gen.documents(7, 300))
    assert gen.embeddings(7, 50).equals(gen.embeddings(7, 50))


def test_documents_differ_across_seeds():
    assert not gen.documents(7, 300).equals(gen.documents(8, 300))
    assert not gen.embeddings(7, 50).equals(gen.embeddings(8, 50))


def test_documents_shape():
    t = gen.documents(3, 2000).to_pydict()
    assert t["doc_id"] == list(range(2000))
    n_words = [len(x.split()) for x in t["text"]]
    assert min(n_words) >= 10 and max(n_words) <= 101
    assert set(" ".join(t["text"]).split()) <= set(gen.VOCAB) | {"dup"}
    dups = [x for x in t["text"] if x.endswith(" dup")]
    assert 0 < len(dups) < 0.1 * 2000
    assert all(x[:-4] in t["text"] for x in dups)
    assert t["n_chars"] == [len(x) for x in t["text"]]
    assert set(t["lang"]) == set(gen.LANGS)


def test_embeddings_are_unit_vectors():
    import numpy as np
    v = np.array(gen.embeddings(1, 20).column("embedding").to_pylist())
    assert v.shape == (20, gen.EMB_DIM)
    assert np.allclose(np.linalg.norm(v, axis=1), 1.0, atol=1e-5)


def test_corpus_ids_are_disjoint_across_replicas_and_seeds():
    a = gen.corpus_documents(0, 100, 4).column("doc_id").to_pylist()
    b = gen.corpus_documents(1, 100, 4).column("doc_id").to_pylist()
    assert len(set(a)) == len(a) == 400
    assert not set(a) & set(b)


def test_interleaved_corpus_is_deterministic():
    docs = gen.corpus_documents(5, 50, 2)
    one, two = gen.interleaved(docs), gen.interleaved(docs)
    assert one.equals(two)
    assert one.schema == gen.CORPUS_SCHEMA
    assert one.num_rows == 100
