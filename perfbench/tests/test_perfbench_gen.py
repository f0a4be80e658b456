"""Generator determinism and the bucket hash.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402

#: ``SELECT xxhash64(s)`` on Spark 4.1 for each string (seed 42)
SPARK_XXHASH64 = {
    "a": -8582455328737087284,
    "abcdefgh": 2470326616177429180,
    "abcdefghijkl": 3897903351825168219,
    "conv_001_0000001": 6241209254467442390,
    "conv_999_1234567xyzw": -4739910198637739063,
}


def test_transcripts_same_seed_same_digest():
    a, fa = gen.transcripts(7, dirty=False, n_convs=300)
    b, fb = gen.transcripts(7, dirty=False, n_convs=300)
    assert gen.digest(a) == gen.digest(b)
    assert fa == fb


def test_transcripts_seed_and_day_change_the_input():
    base = gen.digest(gen.transcripts(7, dirty=False, n_convs=300)[0])
    assert gen.digest(gen.transcripts(8, dirty=False, n_convs=300)[0]) != base
    assert gen.digest(gen.transcripts(7, dirty=True, n_convs=300)[0]) != base


def test_docs_same_seed_same_digest():
    a, fa = gen.docs(7, n_docs=400)
    b, fb = gen.docs(7, n_docs=400)
    assert gen.digest(a) == gen.digest(b)
    assert fa == fb
    assert gen.digest(gen.docs(8, n_docs=400)[0]) != gen.digest(a)


def test_docs_plant_copies_and_chains():
    table, facts = gen.docs(3, n_docs=400)
    texts = table.column("text").to_pylist()
    assert facts["rows"] == len(texts) == 400
    for orig, copy in facts["copies"]:
        assert orig < copy and texts[orig] == texts[copy]
    for chain in facts["chains"]:
        toks = [texts[i].split() for i in chain]
        for j in range(1, len(chain)):
            # member j differs from member j-1 in exactly token j-1
            assert [k for k in range(gen.DOC_TOKENS) if toks[j][k] != toks[j - 1][k]] == [j - 1]


def test_xxhash64_matches_spark():
    keys = list(SPARK_XXHASH64)
    assert gen.xxhash64(keys).tolist() == [SPARK_XXHASH64[k] for k in keys]


def test_write_input_is_reproducible(tmp_path):
    a = gen.write_input("docs", 5, str(tmp_path / "a"))
    b = gen.write_input("docs", 5, str(tmp_path / "b"))
    assert a["digest"] == b["digest"]
    assert (tmp_path / "a" / "facts.json").exists()
