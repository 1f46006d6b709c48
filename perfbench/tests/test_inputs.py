"""Seeded inputs and the metric catalogue."""

import json
import os

import pyarrow.parquet as pq

from perfbench import metrics
from perfbench.corpus import CorpusSpec, make_corpus, stage_stream_files

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_corpus_is_seeded_and_plants_duplicates():
    spec = CorpusSpec(n_docs=200)
    a, b, c = make_corpus(spec, 1), make_corpus(spec, 1), make_corpus(spec, 2)
    assert a.texts == b.texts and a.texts != c.texts
    assert len(a.doc_ids) == 200 and len(set(a.doc_ids)) == 200
    text = dict(zip(a.doc_ids, a.texts))
    assert len(a.exact_pairs) == 20 and len(a.near_pairs) == 20
    for src, copy in a.exact_pairs:
        assert text[copy] == text[src] and copy > src
    for src, copy in a.near_pairs:
        assert text[copy] == text[src].split(" ", 1)[1] and copy > src
    for t in a.texts:
        assert spec.min_words - 1 <= len(t.split()) <= spec.max_words


def test_stream_files_resend_keys_one_file_later(tmp_path):
    corpus = make_corpus(CorpusSpec(n_docs=400, exact_share=0, near_share=0), 3)
    si = stage_stream_files(corpus, str(tmp_path), n_files=4, resend_share=0.2, seed=3)
    files = sorted(os.listdir(tmp_path))
    mtimes = [os.path.getmtime(tmp_path / f) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4
    ids = [pq.read_table(tmp_path / f)["doc_id"].to_pylist() for f in files]
    assert [len(x) for x in ids] == [100, 120, 120, 120]
    assert si.rows == 460 and si.distinct_keys == 400
    for prev, cur in zip(ids, ids[1:]):
        resent = cur[100:]
        assert set(resent) <= set(prev[:100])


def test_benchmark_json_lists_the_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [
        (m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]
    ] == metrics.END_TO_END
    assert [
        (m["name"], m["unit"], m["better"]) for m in spec["per_layer"]
    ] == metrics.per_layer()
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
