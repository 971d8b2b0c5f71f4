"""In-process oracle that RUNS the reference engine (/root/reference/src).

Nothing is copied into this repo: we import the reference modules from their
read-only location (with sys.modules shims for its unavailable deps) and
drive its real on-disk pipeline — Spimi build -> merged index file ->
InvertedIndex from-disk search — exactly like src/test.py:23-103 /
src/indexer.py:21-62 do. The from-disk path matters: the reference scores
from *stored* (3-dp rounded) idf/dl_norm values (SURVEY.md §2.6.1), which is
the contract our engine reproduces.

Shims:
- ``psutil``  (imported by src/models/spimi.py): virtual_memory().percent=0
  -> RAM-based spills never trigger; spills are driven by max_block_size.
- ``nltk``    (imported by src/models/tokenizer.py): stub SnowballStemmer
  that raises if instantiated — our gates run stem_lang=None, same as the
  reference's own test entry (src/test.py:34).
"""

from __future__ import annotations

import sys
import types
from pathlib import Path
from typing import Dict, List, Optional, Sequence, Tuple

REF_SRC = "/root/reference/src"


def _install_shims() -> None:
    if "psutil" not in sys.modules:
        psutil = types.ModuleType("psutil")

        class _VM:
            percent = 0.0

        psutil.virtual_memory = lambda: _VM()
        sys.modules["psutil"] = psutil

    if "nltk" not in sys.modules:
        nltk = types.ModuleType("nltk")
        stem = types.ModuleType("nltk.stem")
        snowball = types.ModuleType("nltk.stem.snowball")

        class SnowballStemmer:  # pragma: no cover - never instantiated in gates
            def __init__(self, language=None):
                raise RuntimeError("nltk is stubbed; run the oracle with stem_lang=None")

        snowball.SnowballStemmer = SnowballStemmer
        stem.snowball = snowball
        nltk.stem = stem
        sys.modules["nltk"] = nltk
        sys.modules["nltk.stem"] = stem
        sys.modules["nltk.stem.snowball"] = snowball


def _import_ref():
    if not Path(REF_SRC).is_dir():
        import pytest

        pytest.skip(f"reference engine absent: {REF_SRC} does not exist")
    _install_shims()
    if REF_SRC not in sys.path:
        sys.path.insert(0, REF_SRC)
    import importlib

    mods = {}
    for name in (
        "models.posting_list",
        "models.tokenizer",
        "models.index",
        "models.ranker",
        "models.spimi",
    ):
        mods[name] = importlib.import_module(name)
    return mods


def ref_tokenize(
    texts: Sequence[str],
    min_token_length: Optional[int] = None,
    stop_words_path: Optional[str] = None,
    stem_lang: Optional[str] = None,
) -> List[List[str]]:
    mods = _import_ref()
    tok = mods["models.tokenizer"].Tokenizer(min_token_length, stop_words_path, stem_lang)
    return [tok.tokenize(t) for t in texts]


def ref_build_and_search(
    tmpdir: str,
    doc_tokens: List[List[str]],
    query_tokens_list: List[List[str]],
    n: int = 10,
    ranking_method: str = "BM25",
    k: float = 1.2,
    b: float = 0.75,
    schema: str = "lnc.ltc",
    max_block_size: int = 50_000,
    posting: str = "frequency",
) -> Tuple[List[List[Tuple[int, float]]], Dict[str, object]]:
    """Run the reference build+search (real disk pipeline) over pre-tokenized
    docs (doc i -> internal docID i). Returns per-query [(doc_id, score)]
    top-n (reference's own ordering) and the index metadata dict."""
    mods = _import_ref()
    PostingType = mods["models.posting_list"].PostingType
    RankerFactory = mods["models.ranker"].RankerFactory
    RankingMethod = mods["models.ranker"].RankingMethod
    Spimi = mods["models.spimi"].Spimi
    InvertedIndex = mods["models.index"].InvertedIndex

    base = Path(tmpdir)
    blocks = base / "blocks"
    blocks.mkdir(parents=True, exist_ok=True)
    out_index = str(base / "out.index")

    posting_type = PostingType(posting)
    ranker = RankerFactory(RankingMethod(ranking_method))(posting_type, schema=schema, k=k, b=b)
    spimi = Spimi(
        ranker=ranker,
        max_ram_usage=101,
        max_block_size=max_block_size,
        auxiliary_dir=str(blocks),
        posting_type=posting_type,
    )
    spimi.extend_metadata(
        {
            "posting_class": posting_type.value,
            "min_token_length": 0,
            "stop_words": None,
            "language": None,
            "doc_mapping": str(base / "docmap.txt"),
        }
    )
    for doc_id, tokens in enumerate(doc_tokens):
        spimi.add_document(doc_id=doc_id, tokens=tokens)
    spimi.construct_index(out_index)

    index = InvertedIndex(None, output_path=out_index)
    search_ranker = RankerFactory(RankingMethod(index.metadata["ranker"]))(
        PostingType(index.metadata["posting_class"]), schema=schema
    )
    results = []
    for qtoks in query_tokens_list:
        res = index.search(list(qtoks), n, search_ranker, show_score=True)
        results.append([(int(d), float(s)) for d, s in res])
    return results, dict(index.metadata)


def ref_index_stats(
    tmpdir: str, doc_tokens: List[List[str]]
) -> Dict[str, object]:
    """Build with the reference and read back its stored statistics:
    per-term idf (.tiny), per-term postings, and dl_norm footer map."""
    mods = _import_ref()
    PostingType = mods["models.posting_list"].PostingType
    RankerFactory = mods["models.ranker"].RankerFactory
    RankingMethod = mods["models.ranker"].RankingMethod
    Spimi = mods["models.spimi"].Spimi

    base = Path(tmpdir)
    blocks = base / "blocks"
    blocks.mkdir(parents=True, exist_ok=True)
    out_index = str(base / "stats.index")

    ranker = RankerFactory(RankingMethod("BM25"))(PostingType.FREQUENCY, k=1.2, b=0.75)
    spimi = Spimi(
        ranker=ranker,
        max_ram_usage=101,
        max_block_size=50_000,
        auxiliary_dir=str(blocks),
        posting_type=PostingType.FREQUENCY,
    )
    spimi.extend_metadata({"posting_class": "frequency", "min_token_length": 0,
                           "stop_words": None, "language": None, "doc_mapping": "x"})
    for doc_id, tokens in enumerate(doc_tokens):
        spimi.add_document(doc_id=doc_id, tokens=tokens)
    spimi.construct_index(out_index)

    import json

    lines = Path(out_index).read_text().splitlines()
    header = json.loads(lines[0])
    footer = json.loads(lines[-1])
    postings: Dict[str, Dict[int, int]] = {}
    for line in lines[1:-1]:
        term, rest = line.split(" ", 1)
        postings[term] = {
            int(p.split(":")[0]): int(p.split(":")[1]) for p in rest.split(" ")
        }
    tiny = {}
    for line in Path(out_index + ".tiny").read_text().splitlines():
        term, idf = line.split(" ", 1)
        tiny[term] = float(idf)
    return {
        "header": header,
        "dl_norm": {int(k): float(v) for k, v in footer["doc_length_normalization"].items()},
        "postings": postings,
        "idf": tiny,
    }
