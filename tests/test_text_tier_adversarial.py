"""Re-gate the SQL-text tier on ADVERSARIAL text (judge r2 #1): the
driver corpus is single-spaced ~25-word ASCII, so its greens never
exercised multi-whitespace runs, tabs/newlines, unicode punctuation,
NBSP, empty/whitespace-only docs, or 1-token docs. This fixture does.

Every token-tier query runs Spark-vs-DuckDB with the SAME value-level
comparison the driver uses (tools/check_correctness: column names +
arrow types + order-insensitive values), over a documents.parquet with
the driver schema — so a parity break on realistic text fails HERE
before it can fail in production.

Semantics pinned (textstats.tokens == F6-normalize + split):
- whitespace runs (space/tab/newline/CR/VT/FF) collapse to one token
  boundary; leading/trailing whitespace never makes tokens;
- empty and whitespace-only docs tokenize to [] (n_tokens = 0), with
  NULL avg/ratio stats (guarded divisions) — never ANSI div-by-zero;
- non-ASCII whitespace (NBSP U+00A0, thin space U+2009) is NOT a
  separator (the class is spelled out in hex — textstats.WS_CLASS —
  because Java \\s and RE2 \\s disagree on vertical tab);
- two docs differing only in whitespace produce IDENTICAL shingles,
  minhash signatures and LSH bands.
"""

import importlib.util
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ocr_service_spark.queries import ORACLE_SQL, QUERIES

_CC_PATH = Path(__file__).resolve().parent.parent / "tools" / "check_correctness.py"
_spec = importlib.util.spec_from_file_location("check_correctness", _CC_PATH)
cc = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(cc)

_LONG = ("the quick brown fox jumps over a lazy dog and then the "
         "narrator explains why training data quality matters for "
         "large models because duplicated boilerplate and template "
         "spam distort the loss while short fragments waste tokens "
         "so the pipeline filters documents by mean word length and "
         "alphabetic ratio before any deduplication stage runs at "
         "scale across the whole crawl corpus every single day")

_CHUNK16 = ("one two three four five six seven eight "
            "nine ten eleven twelve thirteen fourteen fifteen sixteen")

ADVERSARIAL_DOCS = [
    (0, "", "en"),
    (1, " \t \r\n  ", "en"),
    (2, "hello", "en"),
    (3, "hello   world", "en"),
    (4, "  leading and trailing  ", "en"),
    (5, "tab\tseparated\ttokens here", "en"),
    (6, "line\nbreaks\r\nand\x0bvertical\x0cfeeds", "en"),
    (7, "unicode — punctuation … «quotes» déjà vu", "other"),
    (8, "nbsp a b and thin c d stay single tokens", "en"),
    (9, "the a the a the a repeated stopwords here", "en"),
    (10, "spam spam spam spam spam spam ham spam spam", "en"),
    (11, "Привет мир это кириллица тест",  "ru"),
    (12, "mixed Привет world тест 123 !!!", "ru"),
    (13, _LONG, "en"),
    (14, _CHUNK16 + " " + _CHUNK16 + " " + _CHUNK16 + " unique tail here", "en"),
    (15, _CHUNK16 + " totally different second half of this document", "en"),
    (16, "tabel scna jion filtre valu spark merge batch typo bait", "en"),
    (17, "!!! ??? ... ---", "en"),
    (18, "a  b   c    d", "en"),
    # whitespace-variant twin of 13: MUST normalize to identical tokens
    (19, _LONG.replace(" ", "  ", 40).replace("quality", "quality\t"), "en"),
]

# every oracle-gated query that tokenizes the documents table
TOKEN_TIER = [
    "correction_join",
    "text_quality",
    "lang_profile",
    "token_stats",
    "doc_fingerprint",
    "exact_dedup",
    "jaccard_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash",
    "chunk_dedup",
    "train_split",
    "token_entropy",
    "gopher_rules",
    "ngram_repetition",
    "pii_scrub",
    "decontaminate",
    "kmv_distinct",
    "tfidf_keywords",
    "unigram_logprob",
    "boilerplate_strip",
    "dup_clusters",
    "corpus_build",
    "incremental_dedup",
    "sequence_pack",
    "source_mix",
]


@pytest.fixture(scope="module")
def adv_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("advsf")
    ids = [r[0] for r in ADVERSARIAL_DOCS]
    texts = [r[1] for r in ADVERSARIAL_DOCS]
    langs = [r[2] for r in ADVERSARIAL_DOCS]
    tab = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"adv{i % 3}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tab, d / "documents.parquet")
    return str(d)


@pytest.fixture(scope="module")
def duck(adv_sf):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{adv_sf}/documents.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", TOKEN_TIER)
def test_token_tier_parity_on_adversarial_text(spark, adv_sf, duck, name):
    stab = QUERIES[name](spark, adv_sf).toArrow()
    dtab = duck.execute(ORACLE_SQL[name]).arrow()
    assert sorted(stab.column_names) == sorted(dtab.column_names)
    stypes = {c: cc.canonical_type(stab.schema.field(c).type)
              for c in stab.column_names}
    dtypes = {c: cc.canonical_type(dtab.schema.field(c).type)
              for c in dtab.column_names}
    assert stypes == dtypes, f"type mismatch: {stypes} vs {dtypes}"
    assert stab.num_rows == dtab.num_rows
    cs = cc.canon(stab, stab.column_names)
    cd = cc.canon(dtab, dtab.column_names)
    assert cs == cd, (
        f"{name}: first diffs: "
        f"{[(a, b) for a, b in zip(cs, cd) if a != b][:3]}")


def test_pinned_token_semantics(spark, adv_sf):
    rows = {r.doc_id: r for r in QUERIES["token_stats"](spark, adv_sf).collect()}
    assert rows[0].n_tokens == 0 and rows[0].avg_token_len is None
    assert rows[1].n_tokens == 0          # whitespace-only == empty
    assert rows[2].n_tokens == 1
    assert rows[3].n_tokens == 2          # 'hello   world' -> 2 tokens
    assert rows[4].n_tokens == 3          # no phantom edge tokens
    assert rows[5].n_tokens == 4          # tabs separate
    assert rows[6].n_tokens == 5          # \n \r\n \x0b \x0c all separate
    assert rows[8].n_tokens == 8          # NBSP/thin-space do NOT separate
    assert rows[18].n_tokens == 4

    # sequence_pack counts tokens with the same rule
    sp = {r.doc_id: r for r in QUERIES["sequence_pack"](spark, adv_sf).collect()}
    assert sp[0].n_tokens == 0
    assert sp[18].n_tokens == 4

    gr = {r.doc_id: r for r in QUERIES["gopher_rules"](spark, adv_sf).collect()}
    assert gr[0].mean_word_len is None and gr[0].passes_gopher is False
    assert gr[13].passes_gopher is True

    # whitespace-variant twin: identical fingerprint tier
    fp = {r.doc_id: r for r in QUERIES["doc_fingerprint"](spark, adv_sf).collect()}
    assert fp[13].minshingle_md5 == fp[19].minshingle_md5
    assert fp[13].n_shingles == fp[19].n_shingles
    mh = {r.doc_id: r for r in
          QUERIES["minhash_signatures"](spark, adv_sf).collect()}
    assert tuple(mh[13])[1:] == tuple(mh[19])[1:]
    # ... so LSH banding MUST pair them
    pairs = {(r.a_id, r.b_id)
             for r in QUERIES["minhash_lsh_pairs"](spark, adv_sf).collect()}
    assert (13, 19) in pairs

    # chunk dedup: the shared 16-token boilerplate chunk counts across
    # docs 14 (3 copies) and 15 (1 copy)
    cd = {r.doc_id: r for r in QUERIES["chunk_dedup"](spark, adv_sf).collect()}
    assert cd[14].n_dup_chunks >= 3
    assert cd[15].n_dup_chunks >= 1
    assert 0 not in cd and 1 not in cd    # empty docs have no chunks
