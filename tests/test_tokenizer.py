"""Unit tests for the shared tokenizer (reference contract:
/root/reference/konlsearch/index.py:98-127, trie.py:29-30)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from konlspark import tokenizer as tk


def test_sanitize_strips_reference_special_chars():
    # index.py:27: '@_!#$%^&*()<>?/\\|}{~:]",'
    assert tk.sanitize('a@b_c!d#e$f%g^h&i*j(k)l<m>n?o/p\\q|r}s{t~u:v]w"x,y') == (
        "abcdefghijklmnopqrstuvwxy"
    )
    assert tk.sanitize("같은!") == "같은"
    assert tk.sanitize("plain text.") == "plain text."  # '.' not special


def test_is_indexable_matches_reference_regexes():
    # index.py:116-127: fullmatch [가-힣]+ or [a-zA-Z]+
    assert tk.is_indexable("마법")
    assert tk.is_indexable("SEED")
    assert not tk.is_indexable("마법1")
    assert not tk.is_indexable("abc마법")
    assert not tk.is_indexable("123")
    assert not tk.is_indexable("")
    assert not tk.is_indexable("ㅌㅡㄱ")  # bare jamo are not syllables


def test_decompose_matches_hgtk_semantics():
    # trie.py:29-30 examples; arithmetic over U+AC00..U+D7A3
    assert tk.decompose("특별") == "ㅌㅡㄱㅂㅕㄹ"
    assert tk.decompose("마법소녀") == "ㅁㅏㅂㅓㅂㅅㅗㄴㅕ"
    assert tk.decompose("ㅈ") == "ㅈ"  # already jamo: pass-through
    assert tk.decompose("abc") == "abc"  # non-Hangul pass-through
    assert tk.decompose("가") == "ㄱㅏ"
    assert tk.decompose("힣") == "ㅎㅣㅎ"


def test_segmentation_golden_splits():
    assert tk.segment_word("마법은") == ["마법", "은"]
    assert tk.segment_word("특별해야") == ["특별", "해야"]
    assert tk.segment_word("마법소녀와") == ["마법소녀", "와"]  # longest match
    assert tk.segment_word("경비실에서") == ["경비실", "에서"]
    assert tk.segment_word("적대하고") == ["적대", "하고"]
    assert tk.segment_word("SEED") == ["SEED"]  # ASCII stays whole
    # particle chars don't match word-initially
    assert tk.segment_word("은하수") == ["은하수"]


def test_tokenize_set_union_semantics():
    # index.py:98-102: set(morphs) ∪ set(whitespace words), filtered
    toks = tk.tokenize("귀환자의 마법은 특별해야 합니다")
    assert {"마법", "특별", "해야", "합니다", "귀환자", "의", "은"} <= toks
    assert "특별해야" in toks  # whitespace-word branch
    assert "마법은" in toks
    # non-indexable survivors are filtered
    assert all(tk.is_indexable(t) for t in toks)


def test_tokenize_with_order_preserves_stream():
    ordered = tk.tokenize_with_order("귀환자의 마법은 특별해야 합니다")
    assert ordered.index("마법") < ordered.index("특별")


def test_analyze_tf_and_doclen():
    tokens, ordered, tfs, doc_len = tk.analyze("마법 마법 특별")
    assert doc_len == 3
    d = dict(zip(tokens, tfs))
    assert d["마법"] == 2 and d["특별"] == 1
    # whitespace-only token floors at tf=1
    tokens2, _, tfs2, _ = tk.analyze("마법은")
    d2 = dict(zip(tokens2, tfs2))
    assert d2["마법은"] == 1  # set-branch only, floored


def test_first_positions_absent_is_none():
    assert tk.first_positions(["a", "b", "a"], ["a", "b", "z"]) == [0, 1, None]


_MIXED_TEXT = st.text(alphabet=st.one_of(
    st.characters(min_codepoint=0xAC00, max_codepoint=0xD7A3),  # syllables
    st.sampled_from([chr(0xABFF), chr(0xD7A4)]),  # just outside the block
    st.characters(min_codepoint=0x3131, max_codepoint=0x318E),  # compat jamo
    st.characters(min_codepoint=0x20, max_codepoint=0x7E),  # ASCII
    st.characters(min_codepoint=0x4E00, max_codepoint=0x9FFF),  # CJK
    st.characters(min_codepoint=0x10000, max_codepoint=0x10FFFF),
), max_size=12)


@given(st.lists(_MIXED_TEXT, min_size=1, max_size=40))
@settings(max_examples=25, deadline=None)
def test_native_decompose_matches_python(spark, texts):
    """The token_dict's Spark-expression decompose == tk.decompose."""
    from pyspark.sql import functions as F

    from konlspark.build import decompose_col
    df = spark.createDataFrame([(t,) for t in texts + [""]], "t string")
    got = [r["d"] for r in
           df.select(decompose_col(F.col("t")).alias("d")).collect()]
    assert got == [tk.decompose(t) for t in texts + [""]]
