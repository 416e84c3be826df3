"""Non-ASCII parity of the MinHash-LSH and connected-components queries.

Every generated corpus is ASCII, so the codepoint handling of the Spark
shingle hash (``ascii(substr(...))`` per character) against DuckDB's
(``unicode(substr(...))``) is pinned here on a tiny hand-built corpus:
CJK text, non-BMP emoji, combining marks, repeated shingles and texts
shorter than one shingle.  Near-duplicates differ by a few characters,
so set sizes, intersections and Jaccard values all depend on reading
each codepoint as exactly one character.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from single_cell_experiments_spark.registry import REGISTRY, fresh_fn
from tests.conftest import canon_frame

_CJK = "数据去重是大规模语料清洗中的关键步骤之一，近似重复的文档会影响模型质量"
_EMOJI = "launch day 🚀🚀 the team shipped it 🎉 with 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 flair and 😀 smiles"
_ACCENT = "café au lait, crème brûlée et thé glacé"
_REPEAT = "哈哈哈哈哈哈哈哈哈哈哈哈 ababababababab 🙂🙂🙂🙂🙂🙂🙂🙂"

_TEXTS = [
    _CJK,
    _CJK + "。",
    _CJK.replace("关键", "重要"),
    _EMOJI,
    _EMOJI.replace("🎉", "🎊"),
    _EMOJI + " 🚀",
    _ACCENT,
    _ACCENT.replace("é glace", "e glace"),
    _ACCENT,
    _REPEAT,
    _REPEAT + "哈",
    "短文",
    "😀😀",
    "abcd",
    "éé",
    "an unrelated plain ascii sentence about parquet row groups",
]


@pytest.fixture(scope="module")
def unicode_sf(tmp_path_factory):
    sf = tmp_path_factory.mktemp("unicode_sf")
    pd.DataFrame(
        {
            "doc_id": pd.Series(range(1, len(_TEXTS) + 1), dtype="int64"),
            "text": _TEXTS,
            "lang": "xx",
            "source": "test",
            "n_chars": pd.Series([len(t) for t in _TEXTS], dtype="int64"),
        }
    ).to_parquet(sf / "documents.parquet", index=False)
    return str(sf)


def _oracle(sf: str, name: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')")
        return con.execute(REGISTRY[name].oracle).df()
    finally:
        con.close()


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "dedup_connected_components"])
def test_non_ascii_corpus_matches_oracle(spark, unicode_sf, name):
    got = fresh_fn(name)(spark, unicode_sf).toPandas()
    want = _oracle(unicode_sf, name)
    assert canon_frame(got) == canon_frame(want)
    if name == "dedup_minhash_lsh":
        # not vacuous: non-ASCII near-dups pair with Jaccard strictly below 1
        assert ((got.jaccard > 0) & (got.jaccard < 1)).sum() >= 3
        # texts shorter than one shingle never pair
        short = {i + 1 for i, t in enumerate(_TEXTS) if len(t) < 5}
        assert not short & (set(got.doc1) | set(got.doc2))
    else:
        assert got.component_id.nunique() >= 3
