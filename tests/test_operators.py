"""Operator-level semantics tests for dedup / similarity / textstats
(beyond the oracle harness: behavioral properties like LSH recall)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from qwen_ocr_spark.operators import dedup, similarity, textstats
from qwen_ocr_spark.plans.session import count_jobs, release_cached


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog near the river edge"),  # near dup of 1
        (4, "completely different content about spark query optimization and shuffles"),
        (5, "der hund und die katze und der vogel und die maus sind hier"),
        (6, "la casa y los gatos y la puerta y los perros grandes"),
        (7, ""),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dups_groups_identical_text(docs):
    res = {r["text_md5"]: r for r in dedup.exact_dups(docs).collect()}
    groups = [r for r in res.values() if r["dup_count"] == 2]
    assert len(groups) == 1
    assert groups[0]["keep_id"] == 1


def test_shingles_short_doc_empty(docs, spark):
    sh = dedup.word_shingles(docs.where(F.col("doc_id") == 7))
    assert sh.count() == 0


def test_lsh_finds_exact_and_near_dups(docs):
    sh = dedup.word_shingles(docs)
    pairs = {(r["id_a"], r["id_b"])
             for r in dedup.lsh_candidate_pairs(dedup.minhash_signatures(sh)).collect()}
    assert (1, 2) in pairs           # identical signature, every band collides
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup should band-collide
    assert (1, 4) not in pairs       # unrelated docs don't collide on all bands


def _ref_minhash_band_keys(text):
    """Plain-Python MinHash band keys of a text whose words are separated
    by single spaces: slot i = min md5 hex of ``i|shingle`` over its word
    3-grams; band b = its index byte + the raw bytes of its slots."""
    import hashlib

    toks = text.split(" ")
    shingles = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
    slots = [min(hashlib.md5(f"{i}|{s}".encode()).hexdigest()
                 for s in shingles) for i in range(dedup.MINHASH_SLOTS)]
    per_band = dedup.MINHASH_SLOTS // dedup.MINHASH_BANDS
    return [bytes([b]) + b"".join(bytes.fromhex(h) for h in
                                  slots[b * per_band:(b + 1) * per_band])
            for b in range(dedup.MINHASH_BANDS)]


def test_minhash_lsh_pairs_match_reference(spark):
    """``dedup.lsh_candidate_pairs`` returns exactly the pairs that share
    any band key in a plain-Python MinHash reference, each once, with
    bucket runs split across 7-row Arrow batches.  The corpus holds exact
    duplicates (all bands shared) and edited copies sharing 1, 2 or 3
    bands."""
    import itertools
    import random

    rnd = random.Random(3)
    vocab = [f"v{i}" for i in range(40)]
    base = [rnd.choice(vocab) for _ in range(24)]
    texts = {i: " ".join(rnd.choice(vocab) for _ in range(24))
             for i in range(30)}
    texts.update({100 + i: " ".join(base) for i in range(5)})
    base_keys = _ref_minhash_band_keys(" ".join(base))
    shared = {}  # edited copies of ``base`` by number of bands shared
    for k in range(2000):
        if all(len(shared.get(n, [])) >= 3 for n in (1, 2, 3)):
            break
        words = list(base)
        for pos in rnd.sample(range(24), 1 + k % 6):
            words[pos] = rnd.choice(vocab)
        n = sum(a == b for a, b in
                zip(base_keys, _ref_minhash_band_keys(" ".join(words))))
        if n in (1, 2, 3) and len(shared.setdefault(n, [])) < 3:
            shared[n].append(k)
            texts[200 + k] = " ".join(words)
    assert all(len(shared.get(n, [])) == 3 for n in (1, 2, 3)), shared

    keys = {i: set(_ref_minhash_band_keys(t)) for i, t in texts.items()}
    want = {(a, b) for a, b in itertools.combinations(sorted(keys), 2)
            if keys[a] & keys[b]}
    assert any(len(keys[a] & keys[b]) == 2 for a, b in want)
    assert any(len(keys[a] & keys[b]) == 3 for a, b in want)

    docs = spark.createDataFrame(
        pd.DataFrame(list(texts.items()), columns=["doc_id", "text"]),
        "doc_id long, text string")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = [(r["id_a"], r["id_b"]) for r in dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(dedup.word_shingles(docs))).collect()]
    finally:
        spark.conf.set(key, old)
    assert len(got) == len(set(got)), "duplicate pairs"
    assert set(got) == want


def test_ngram_jaccard_values(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard_e4"]
             for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 10000    # identical
    assert (1, 4) not in pairs
    near = pairs.get((1, 3))
    assert near is not None and 5000 <= near < 10000


def test_simhash_similar_docs_close(docs):
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash32(docs).collect()}
    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))
    assert ham(sigs[1], sigs[2]) == 0
    assert ham(sigs[1], sigs[3]) < ham(sigs[1], sigs[4])


def test_lang_id_on_crafted_texts(docs):
    preds = {r["doc_id"]: r["pred_lang"]
             for r in textstats.with_lang_id(docs).collect()}
    assert preds[1] == "en"
    assert preds[5] == "de"
    assert preds[6] == "es"
    assert preds[7] == "und"


def test_lang_id_trigram_short_text(spark):
    """Round-4 trigram upgrade: short text with NO function words at all
    classifies via morphology trigrams ("sch", "ção", "ità", "ion"/"tio").
    Every one of these was 'und' (or wrong) under the round-3 whole-word
    marker table — the trigram table's measured win is 27/27 vs 18/27 on
    the combined crafted set (see LANG_TRIGRAMS docstring)."""
    rows = [
        (1, "schönes wetter heute"),
        (2, "optimización rápida"),
        (3, "fonctionnalités améliorées"),
        (4, "disponibilità limitata"),
        (5, "configuração avançada"),
        (6, "tokenization performance"),
        (7, "i risultati mostrano un miglioramento significativo"),
        (8, "os resultados mostram uma melhoria significativa"),
        (9, "les résultats montrent une amélioration significative"),
        (10, "die wissenschaftliche forschung zeigt deutliche ergebnisse"),
    ]
    preds = {r["doc_id"]: r["pred_lang"]
             for r in textstats.with_lang_id(spark.createDataFrame(
                 pd.DataFrame(rows, columns=["doc_id", "text"]))).collect()}
    assert preds == {1: "de", 2: "es", 3: "fr", 4: "it", 5: "pt", 6: "en",
                     7: "it", 8: "pt", 9: "fr", 10: "de"}


def test_lang_id_script_detection(spark):
    """Round-4 script short-circuits: non-Latin scripts classify by
    unicode range, with kana checked BEFORE CJK ideographs so Japanese
    kanji+kana text reads ja, pure-ideograph text reads zh."""
    rows = [
        (1, "機械学習のモデルを訓練します"),          # kanji + kana → ja
        (2, "模型 训练 数据"),                        # ideographs only → zh
        (3, "기계 학습 모델을 훈련합니다"),            # hangul → ko
        (4, "обучение модели машинного обучения"),   # cyrillic → ru
        (5, "تدريب نموذج التعلم الآلي"),             # arabic → ar
        (6, "אימון מודל למידת מכונה"),               # hebrew → he
        (7, "εκπαίδευση μοντέλου μηχανικής μάθησης"),  # greek → el
        (8, "मशीन लर्निंग मॉडल का प्रशिक्षण"),        # devanagari → hi
        (9, "การฝึกโมเดลการเรียนรู้ของเครื่อง"),       # thai → th
        (10, "machine learning model training"),     # latin → trigram → en
    ]
    preds = {r["doc_id"]: r["pred_lang"]
             for r in textstats.with_lang_id(spark.createDataFrame(
                 pd.DataFrame(rows, columns=["doc_id", "text"]))).collect()}
    assert preds == {1: "ja", 2: "zh", 3: "ko", 4: "ru", 5: "ar",
                     6: "he", 7: "el", 8: "hi", 9: "th", 10: "en"}


def test_lang_id_wider_profiles(spark):
    """Round-3 marker widening (kept under the round-4 trigram table):
    it/pt classify, and Romance languages with overlapping function words
    ('que', 'para') still separate."""
    rows = [
        (1, "il gatto che non dorme sono felice per anche gli amici di casa"),
        (2, "como mais do que uma casa para os amigos em lisboa da cidade"),
        (3, "le chat est dans les maisons des amis que nous avons une fois"),
        (4, "la casa para los amigos del pueblo con una puerta por y"),
    ]
    preds = {r["doc_id"]: r["pred_lang"]
             for r in textstats.with_lang_id(spark.createDataFrame(
                 pd.DataFrame(rows, columns=["doc_id", "text"]))).collect()}
    assert preds == {1: "it", 2: "pt", 3: "fr", 4: "es"}


def test_lang_id_round5_widened_languages(spark):
    """Round-5 widening: nl, pl, sv, tr, vi, id — the next six top-crawl
    Latin-script languages — classify from the same trigram table, and
    none of the original six regress (their cases stay in the tests
    above)."""
    rows = [
        (1, "het weer is vandaag erg mooi in de stad"),
        (2, "een nieuwe aanpak voor het trainen van modellen"),
        (3, "uczenie maszynowe wymaga dużych zbiorów danych"),
        (4, "przetwarzanie języka naturalnego jest trudne"),
        (5, "maskininlärning är ett viktigt område för forskning"),
        (6, "det här är en bra dag att träna modeller och att läsa"),
        (7, "makine öğrenmesi modelleri büyük veri kümeleri ile eğitilir"),
        (8, "bu çalışmada yeni bir yöntem önerilmektedir ve sonuçlar"),
        (9, "học máy là một lĩnh vực quan trọng của trí tuệ nhân tạo"),
        (10, "các mô hình ngôn ngữ được huấn luyện trên dữ liệu lớn"),
        (11, "pembelajaran mesin adalah bidang yang penting untuk penelitian"),
        (12, "model bahasa dilatih dengan data yang sangat besar"),
    ]
    preds = {r["doc_id"]: r["pred_lang"]
             for r in textstats.with_lang_id(spark.createDataFrame(
                 pd.DataFrame(rows, columns=["doc_id", "text"]))).collect()}
    assert preds == {1: "nl", 2: "nl", 3: "pl", 4: "pl", 5: "sv", 6: "sv",
                     7: "tr", 8: "tr", 9: "vi", 10: "vi", 11: "id", 12: "id"}


def test_quality_score_language_aware(spark):
    """Round-5 de-anglicization: correct Chinese/Russian/Arabic text must
    score like correct English text (alpha_ratio counts \\p{L} letters,
    stopwords key off pred_lang, unspaced scripts divide by characters) —
    previously zh/ru/ar scored alpha≈0, stop≈0 and would have been
    filtered as garbage at corpus scale (VERDICT r4 'What's wrong' #1)."""
    rows = [
        (1, "the cat sat on the mat and the dog ran in the park for fun "
            * 10),
        (2, "это очень хороший текст на русском языке и в нём нет мусора "
            * 10),
        (3, "这是一段很好的中文文本它包含了的和是在有人这了等常用字而且内容连贯" * 10),
        (4, "هذا نص جيد باللغة العربية وهو لا يحتوي على أي نفايات في هذا النص "
            * 10),
        (5, "日本語のテキストですがとても自然でのにはをたがでてとし含む文章です" * 10),
        (6, "!!!! #### $$$$ 1234 %%%% ^^^^ &&&& 5678 ()[]{} <><> ;;;; ::::"),
    ]
    got = {r["doc_id"]: r for r in textstats.with_quality_score(
        spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    ).collect()}
    assert got[2]["pred_lang"] == "ru"
    assert got[3]["pred_lang"] == "zh"
    assert got[4]["pred_lang"] == "ar"
    assert got[5]["pred_lang"] == "ja"
    for d in (1, 2, 3, 4, 5):
        assert got[d]["alpha_ratio_e4"] > 7000, (d, got[d])
        assert got[d]["stopword_score_e4"] > 0, (d, got[d])
        assert got[d]["quality_score_e4"] > 5000, (d, got[d])
    # and symbol soup still scores near zero on alpha
    assert got[6]["alpha_ratio_e4"] < 2000
    assert got[6]["quality_score_e4"] < min(
        got[d]["quality_score_e4"] for d in (1, 2, 3, 4, 5))


def test_repetition_stats_known_values(spark):
    """Gopher-style repetition: crafted docs with known dup-line and
    top-bigram fractions."""
    rows = [
        (1, "nav menu\nreal content line one\nnav menu\nreal content line two"),
        (2, "buy now buy now buy now buy now"),
        (3, "a perfectly normal sentence with no repetition at all"),
        (4, ""),
    ]
    got = {r["doc_id"]: r for r in textstats.repetition_stats(
        spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    ).collect()}
    # doc 1: 4 lines, 3 distinct -> 1/4 = 0.25
    assert got[1]["dup_line_frac_e4"] == 2500
    # doc 2: bigrams of 8 tokens = 7; "buy now" appears 4 times -> 4/7
    assert got[2]["top_bigram_frac_e4"] == int(4 * 10000 / 7)
    # doc 3: no dup lines; 9 tokens -> 8 unique bigrams -> top = 1/8
    assert got[3]["dup_line_frac_e4"] == 0
    assert got[3]["top_bigram_frac_e4"] == int(10000 / 8)
    # doc 4: empty -> both zero, no division error
    assert (got[4]["dup_line_frac_e4"], got[4]["top_bigram_frac_e4"]) == (0, 0)


def test_gopher_signals_known_values(spark):
    """Round-5 Gopher-signal completion: crafted docs with known mean
    word length, symbol fraction, bullet and ellipsis line fractions
    (the sf corpus exercises only the mean — it has no bullets)."""
    rows = [
        (1, "aa bbbb cc\n- bullet one\n- bullet two\nplain line..."),
        (2, "ok #tag word… four"),
        (3, ""),
    ]
    got = {r["doc_id"]: r for r in textstats.gopher_signals(
        spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    ).collect()}
    # doc 1: 11 tokens (aa bbbb cc - bullet one - bullet two plain line...)
    # lines: 4 non-blank; 2 bullet; 1 ellipsis
    assert got[1]["bullet_line_frac_e4"] == 5000
    assert got[1]["ellipsis_line_frac_e4"] == 2500
    # doc 2: 4 tokens (ok #tag word… four = 2+4+5+4 = 15 chars),
    # 2 symbol-bearing (#tag, word…)
    assert got[2]["symbol_word_frac_e4"] == 5000
    assert got[2]["mean_word_len_e4"] == int(15 * 10000 / 4)
    assert got[3] == got[3].__class__(doc_id=3, mean_word_len_e4=0,
                                      symbol_word_frac_e4=0,
                                      bullet_line_frac_e4=0,
                                      ellipsis_line_frac_e4=0)


# Java regex ``\s`` (Spark's split / regexp_replace), ASCII only: Python's
# ``\s`` on ``str`` would also match unicode spaces
_JAVA_WS = "[ \t\n\x0b\f\r]"


def _gopher_reference(text: str) -> tuple[int, int, int, int]:
    """gopher_signals of one text, written in plain Python with Spark's
    semantics spelled out: ``trim`` strips spaces only, ``split`` keeps
    empty leading/trailing tokens, and Java's ``$`` also matches before
    one final line terminator (so a CRLF line ``a...\\r`` ends with an
    ellipsis)."""
    import math
    import re

    def frac(num, den):
        return 0 if den == 0 else math.floor(num * 10000.0 / den)

    trimmed = text.strip(" ")
    toks = re.split(_JAVA_WS + "+", trimmed) if trimmed else []
    tok_chars = len(re.sub(_JAVA_WS, "", trimmed))
    sym = sum("#" in t or "..." in t or "…" in t for t in toks)
    lines = [ln.strip(" ") for ln in text.split("\n") if ln.strip(" ")]
    bullet = sum(ln[0] in "-*•" for ln in lines)
    ends = [ln[:-1] if ln[-1] in "\r\u0085\u2028\u2029" else ln
            for ln in lines]
    ellipsis = sum(e.endswith(("...", "…")) for e in ends)
    return (frac(tok_chars, len(toks)), frac(sym, len(toks)),
            frac(bullet, len(lines)), frac(ellipsis, len(lines)))


def test_gopher_signals_edge_cases_match_reference(spark):
    """Whitespace, bullet and ellipsis edge cases against the plain-Python
    reference.  Words with an ``s`` catch a regex escape that reaches the
    engine as a plain letter (``'\\s'`` in SQL text is ``s``)."""
    texts = [
        "first line...\r\nsecond line\r\n- bullets start here\r\n",
        "\nleading newline, then words\nstill words…",
        "   ",
        "",
        "\t",
        "mid...dle tokens… and ...lead and trail... plus #hash tags",
        "  • spaced bullet\n   - dash bullet\n\t* tab then star\n *star",
        "sss ss s\nsis\ttabs  spaces",
        "line ends with dots ...\n  trailing spaces...   \nnot … here x",
        "\u2026\n...\n-\n•",
    ]
    rows = list(enumerate(texts))
    got = {r[0]: tuple(r[1:]) for r in textstats.gopher_signals(
        spark.createDataFrame(rows, "doc_id bigint, text string")).collect()}
    for i, text in rows:
        assert got[i] == _gopher_reference(text), (i, text)


def test_token_count_edges(docs):
    t = {r["doc_id"]: (r["n_tokens"], r["n_subtokens_est"])
         for r in textstats.with_token_count(docs).collect()}
    assert t[7] == (0, 0)
    assert t[1][0] == 13


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(pd.DataFrame(
        [(1, "Hello   World"), (2, "  hello world "), (3, "other")],
        columns=["doc_id", "text"]))
    fp = {r["doc_id"]: r["fingerprint"]
          for r in textstats.with_fingerprint(df).collect()}
    assert fp[1] == fp[2] != fp[3]


@pytest.fixture(scope="module")
def emb(spark):
    import math
    rows = []
    for i in range(1, 40):
        base = [math.sin(0.1 * i * (d + 1)) for d in range(16)]
        rows.append((i, base))
    # 100 and 101: near-identical to 1
    v1 = rows[0][1]
    rows.append((100, [x + 0.001 for x in v1]))
    rows.append((101, list(v1)))
    rows.append((999, [0.0] * 16))  # zero vector: must be ignored, not crash
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]))


def test_cosine_topk_exact(emb):
    res = similarity.cosine_topk(emb, [1], k=3).collect()
    ids = [r["neighbor_id"] for r in sorted(res, key=lambda r: r["rank"])]
    assert ids[0] == 101      # identical vector first (cos = 1)
    assert 100 in ids[:2]
    assert 999 not in ids     # zero-norm vector dropped, no crash
    assert all(r["score_e6"] <= 1_000_000 for r in res)


# every consumer of the one cosine scorer, and the scorer-less LSH
# candidate generator, each built so the bad vector (ids 500 and 501,
# identical, so LSH always pairs them) is scored or bucketed
_SCORER_CONSUMERS = {
    "cosine_topk": lambda e: similarity.cosine_topk(e, [500], k=3),
    "lsh_bucketed_topk": lambda e: similarity.lsh_bucketed_topk(
        e, [500], k=3),
    "ivf_topk": lambda e: similarity.ivf_topk(e, [500], k=3, n_cells=8),
    "embedding_near_dups": lambda e: similarity.embedding_near_dups(e),
    "lsh_candidate_pairs": lambda e: similarity.lsh_candidate_pairs(e),
}


def _assert_every_consumer_rejects(emb, bad, match: str) -> None:
    from pyspark.errors import PythonException

    for name, query in _SCORER_CONSUMERS.items():
        with pytest.raises(PythonException, match=match):
            query(emb.unionByName(bad)).collect()
            pytest.fail(f"{name} accepted the bad embedding")
        release_cached()  # the failed relations must not stay cached


@pytest.mark.parametrize("value", [float("nan"), float("inf"),
                                   float("-inf"), None],
                         ids=["nan", "inf", "-inf", "null"])
def test_cosine_scorer_rejects_non_finite(spark, emb, value):
    """One corrupt embedding fails the query loudly instead of being
    zeroed (NaN, NULL) or clamped (±Inf) into a plausible-looking score or
    bucket, in every consumer of the scorer and in LSH candidate
    generation."""
    bad = spark.createDataFrame(pd.DataFrame(
        [(i, [value] + [0.5] * 15) for i in (500, 501)],
        columns=["vec_id", "embedding"]), "vec_id long, embedding array<double>")
    _assert_every_consumer_rejects(emb, bad, "non-finite embedding")


def test_cosine_scorer_rejects_over_long_vector(spark, emb):
    """A vector longer than ``EMB_DIMS`` fails instead of being scored or
    bucketed on its first ``EMB_DIMS`` elements."""
    n = similarity.EMB_DIMS + 1
    long_vec = spark.createDataFrame(pd.DataFrame(
        [(i, [0.5] * n) for i in (500, 501)],
        columns=["vec_id", "embedding"]))
    _assert_every_consumer_rejects(emb, long_vec, f"{n}-element embedding")


def _scorer_nodes(df, args: str = "") -> int:
    return df._jdf.queryExecution().executedPlan().toString().count(
        f"ArrowEvalPython [score({args}")


def test_ann_scorer_runs_once_per_row(emb):
    """The ``score_e6`` filter over the cosine scorer must not be pushed
    below it with a copy of the UDF (two ArrowEvalPython nodes, every row
    scored twice).  ``asNondeterministic()`` on the scorer is what
    prevents that; dropping it fails this test.

    ``embedding_near_dups`` scores in one ``mapInArrow`` kernel; its
    band-key UDF must run once per row of its one input branch, which the
    ``asNondeterministic()`` on that instance guarantees (without it
    Catalyst copies the UDF under the ``size(keys) > 0`` filter it infers
    for the explode)."""
    assert _scorer_nodes(similarity.cosine_topk(emb, [1, 2], k=3)) == 1
    assert _scorer_nodes(similarity.lsh_bucketed_topk(emb, [1, 2], k=3)) == 1
    plan = similarity.embedding_near_dups(emb)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("MapInArrow") == 1
    assert plan.count("ArrowEvalPython [_band_keys(") == 1
    # IVF's re-rank; its centroid assignment sits under the cached index,
    # which the plan string prints once per scan of it
    assert _scorer_nodes(similarity.ivf_topk(
        emb, [1, 2], k=3, n_cells=8), "_qv") == 1


def test_lsh_topk_recall_on_near_dups(emb):
    res = similarity.lsh_bucketed_topk(emb, [1], k=3).collect()
    ids = {r["neighbor_id"] for r in res}
    # identical / epsilon-perturbed vectors share every sign bucket
    assert 101 in ids and 100 in ids


def test_embedding_near_dups_finds_pair(emb):
    pairs = {(r["id_a"], r["id_b"]) for r in
             similarity.embedding_near_dups(emb, threshold_e6=999_000).collect()}
    assert (1, 101) in pairs and (1, 100) in pairs


def _ref_band_keys(v, bands, rows, dims):
    """Plain-Python band keys: one left-to-right dot per hyperplane."""
    v = list(v) + [0.0] * (dims - len(v))
    keys = []
    for b in range(bands):
        bits = ""
        for r in range(b * rows, (b + 1) * rows):
            acc = 0.0
            for x, w in zip(v, similarity._plane(r, dims)):
                acc += x * w
            bits += "1" if acc >= 0.0 else "0"
        keys.append(f"{b}|{bits}")
    return keys


def _ref_cosine_e6(a, b):
    """Plain-Python ``floor(cosine * 1e6)``, None for a zero norm."""
    import math
    dot = na2 = nb2 = 0.0
    for x, y in zip(a, b):
        dot += x * y
        na2 += x * x
        nb2 += y * y
    den = math.sqrt(na2) * math.sqrt(nb2)
    return None if den == 0.0 else math.floor((dot / den) * 1e6)


def _crowded_near_dups(emb, bands, rows, threshold_e6):
    """``embedding_near_dups`` with ``bands`` x ``rows`` planes instead of
    the module constants: the same band rows, read and score, handed to
    ``band_bucket_pairs``."""
    band_keys = similarity._band_keys_udf(bands, rows).asNondeterministic()
    buckets = (
        emb.select("vec_id", band_keys(F.col("embedding")).alias("keys"),
                   "embedding")
        .select("vec_id", F.explode("keys").alias("band_key"), "keys",
                "embedding"))

    def read(batch):
        return similarity._embedding_matrix(batch.column("embedding"))

    def score(A, B):
        e6, ok = similarity._cosine_e6(A, B)
        return ok & (e6 >= threshold_e6), e6

    return similarity.band_bucket_pairs(buckets, read, score)


def test_embedding_near_dups_matches_brute_force(spark):
    """The in-bucket kernel returns exactly the pairs of a brute-force
    reference, with the module's planes (``embedding_near_dups``) and with
    4 x 4 planes, whose 16 buckets per band crowd unrelated vectors into
    shared runs, so the kernel's pairing of long runs and its filtering of
    low and negative scores are checked too."""
    _check_near_dups_brute_force(spark, similarity.LSH_BANDS,
                                 similarity.LSH_ROWS)
    _check_near_dups_brute_force(spark, 4, 4)


def _check_near_dups_brute_force(spark, bands, rows):
    """Share any band key, score with the same fold, keep ``score_e6 >=
    threshold``: the reference at several thresholds, with bucket runs
    split across 7-row Arrow batches.  The inputs hold exact duplicates
    (all bands shared, emitted once), near-dups sharing 2 or 3 bands, a
    short vector with its zero-padded twin, and a NULL vector."""
    import itertools
    import random

    # 16-element vectors: the kernel reads them zero-padded to EMB_DIMS
    dims = 16
    rnd = random.Random(11)
    base = [rnd.uniform(-1, 1) for _ in range(dims)]
    vecs = {i: [rnd.uniform(-1, 1) for _ in range(dims)] for i in range(40)}
    vecs.update({100 + i: list(base) for i in range(10)})  # exact dups
    shared = {}  # near-dups of ``base`` by number of bands shared
    base_keys = _ref_band_keys(base, bands, rows, dims)
    for k in range(400):
        if len(shared.get(2, [])) >= 3 and len(shared.get(3, [])) >= 3:
            break
        eps = 0.05 + 0.002 * k
        v = [x + rnd.uniform(-eps, eps) for x in base]
        n = sum(a == b for a, b in
                zip(base_keys, _ref_band_keys(v, bands, rows, dims)))
        if n in (2, 3) and len(shared.setdefault(n, [])) < 3:
            shared[n].append(v)
            vecs[200 + k] = v
    assert len(shared.get(2, [])) == 3 and len(shared.get(3, [])) == 3
    vecs[300] = base[:12]                   # short: read as zero-padded
    vecs[301] = base[:12] + [0.0] * 4
    vecs[302] = None                        # NULL: never paired
    emb = spark.createDataFrame(
        pd.DataFrame(list(vecs.items()), columns=["vec_id", "embedding"]),
        "vec_id long, embedding array<double>")

    keys = {i: set(_ref_band_keys(v, bands, rows, dims))
            for i, v in vecs.items() if v is not None}
    padded = {i: v + [0.0] * (dims - len(v))
              for i, v in vecs.items() if v is not None}
    scores = {}
    for a, b in itertools.combinations(sorted(keys), 2):
        if keys[a] & keys[b]:
            s = _ref_cosine_e6(padded[a], padded[b])
            if s is not None:
                scores[(a, b)] = s
    assert scores[(300, 301)] >= 999_999
    if (bands, rows) == (4, 4):
        # the crowded case must really hold unrelated and anti-correlated
        # candidates, or its lower thresholds check nothing extra
        assert min(scores.values()) < 0
        assert len(scores) > 2 * len([s for s in scores.values()
                                      if s >= 900_000])

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        for t in (-1_000_000, 0, 900_000, 999_000):
            want = {(a, b, s) for (a, b), s in scores.items() if s >= t}
            if (bands, rows) == (similarity.LSH_BANDS, similarity.LSH_ROWS):
                pairs = similarity.embedding_near_dups(emb, threshold_e6=t)
            else:
                pairs = _crowded_near_dups(emb, bands, rows, t)
            got = [(r["id_a"], r["id_b"], r["score_e6"])
                   for r in pairs.collect()]
            assert len(got) == len(set(got)), f"duplicate pairs at t={t}"
            assert set(got) == want, f"pair set diverged at t={t}"
    finally:
        spark.conf.set(key, old)
    found = {p[:2] for p in got}  # at t = 999_000
    assert {(100 + a, 100 + b) for a, b in
            itertools.combinations(range(10), 2)} <= found
    assert not any(302 in p for p in found)


def _embedding_flood(spark, n_dup):
    import random

    rnd = random.Random(5)
    rows = [(i, [0.25] * 16) for i in range(n_dup)]  # norm exactly 1.0
    rows += [(n_dup + i, [rnd.gauss(0, 1) for _ in range(16)])
             for i in range(500)]
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]),
        "vec_id long, embedding array<double>")
    return emb, similarity.embedding_near_dups(emb)


def _minhash_flood(spark, n_dup):
    import random

    rnd = random.Random(5)
    text = " ".join(f"w{i}" for i in range(30))
    rows = [(i, text) for i in range(n_dup)]
    rows += [(n_dup + i, " ".join(f"r{rnd.randrange(10**9)}"
                                  for _ in range(30))) for i in range(500)]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]),
        "doc_id long, text string")
    sigs = dedup.minhash_signatures(dedup.word_shingles(docs, distinct=False))
    return sigs, dedup.lsh_candidate_pairs(sigs)


@pytest.mark.parametrize("flood", [_embedding_flood, _minhash_flood],
                         ids=["embedding", "minhash"])
def test_embedding_near_dups_bounded_on_duplicate_flood(spark, flood):
    """1,500 identical rows among random ones — embedding copies of one
    vector, or docs of one text (identical MinHash signatures): every copy
    lands in the same bucket of every band, and the bucket kernel returns
    each of the C(1500, 2) pairs once (embeddings at cosine 1), from a
    plan with one added exchange (the band_key repartition) and no join,
    broadcast or cache."""
    import time

    n_dup = 1500
    base, out = flood(spark, n_dup)

    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("Join", "BroadcastExchange", "InMemoryRelation"):
        assert node not in plan, node
    before = base._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") - before.count("Exchange") == 1
    assert plan.count("Exchange hashpartitioning(band_key") == 1

    t0 = time.monotonic()
    aggs = [F.count("*").alias("n"),
            F.count_distinct("id_a", "id_b").alias("distinct"),
            F.max("id_b").alias("top")]
    if "score_e6" in out.columns:
        aggs += [F.min("score_e6").alias("lo"), F.max("score_e6").alias("hi")]
    got = out.agg(*aggs).first()
    elapsed = time.monotonic() - t0
    assert got["n"] == got["distinct"] == n_dup * (n_dup - 1) // 2
    assert got["top"] == n_dup - 1  # no random row paired
    if "score_e6" in out.columns:
        assert got["lo"] == got["hi"] == 1_000_000
    assert elapsed < 120, f"flood took {elapsed:.1f} s"


def test_banded_lsh_recall_vs_exact(emb):
    """Measured recall of the banded ANN against the exact baseline over
    several queries — the scale path must find most true neighbors."""
    qids = [1, 5, 10, 20, 30]
    exact = similarity.cosine_topk(emb, qids, k=3).collect()
    approx = similarity.lsh_bucketed_topk(emb, qids, k=3).collect()
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact}
    found = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(truth & found) / len(truth)
    # mid-angle neighbors on this adversarial 16-dim fixture sit near the
    # per-plane coin-flip regime; the banding guarantee is graded (module
    # math): ~0.4+ here, ~1.0 for near-identical vectors (asserted below)
    assert recall >= 0.4, f"banded ANN recall collapsed: {recall}"
    # near-duplicates of query 1 are ALWAYS candidates (cos ~ 1)
    assert {(1, 100), (1, 101)} <= found
    # and scores for intersecting pairs are the EXACT cosine (re-rank is exact)
    ex = {(r["query_id"], r["neighbor_id"]): r["score_e6"] for r in exact}
    for r in approx:
        k = (r["query_id"], r["neighbor_id"])
        if k in ex:
            assert r["score_e6"] == ex[k]


def test_banded_buckets_shrink(spark):
    """The banding math: per-band bucket population stays far below N for
    spread-out vectors (the N^2/2^r bucket-pair claim), while exact
    duplicates always share all bands."""
    import math
    rows = [(i, [math.sin(0.37 * i * (d + 3)) for d in range(16)])
            for i in range(200)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    band_keys = similarity._band_keys_udf(
        similarity.LSH_BANDS, similarity.LSH_ROWS)
    buckets = df.select(F.explode(band_keys(F.col("embedding")))
                        .alias("band_key")).groupBy("band_key").count()
    sizes = [r["count"] for r in buckets.collect()]
    assert sum(sizes) == 200 * similarity.LSH_BANDS
    assert max(sizes) <= 40, f"a single band bucket holds {max(sizes)}/200 vectors"
    # duplicates collide in every band
    dup = spark.createDataFrame(pd.DataFrame(
        [(1, rows[7][1]), (2, rows[7][1])], columns=["vec_id", "embedding"]))
    pairs = similarity.lsh_candidate_pairs(dup).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_simhash_near_pairs_radius(spark):
    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta",
        2: "alpha beta gamma delta epsilon zeta eta theta",   # identical → d=0
        3: "totally different words nothing shared here at all whatsoever",
    }
    df = spark.createDataFrame(pd.DataFrame(
        [(k, v) for k, v in texts.items()], columns=["doc_id", "text"]))
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dedup.simhash_near_pairs(df, radius=3).collect()}
    assert pairs.get((1, 2)) == 0
    # all returned pairs honor the radius bound
    assert all(h <= 3 for h in pairs.values())
    # a radius whose chunk count does NOT divide 32 still covers every bit
    # and still finds the distance-0 pair (remainder spread across chunks)
    bounds = dedup.simhash_chunk_bounds(4)
    assert sum(w for _, w in bounds) == 32
    assert [s for s, _ in bounds] == [1, 8, 15, 21, 27]
    pairs4 = {(r["id_a"], r["id_b"]): r["hamming"]
              for r in dedup.simhash_near_pairs(df, radius=4).collect()}
    assert pairs4.get((1, 2)) == 0


def test_connected_components_chains_and_islands(spark):
    """Transitivity: A~B, B~C cluster together even without an A~C pair;
    disjoint clusters stay apart; group_id is the component min."""
    pairs = spark.createDataFrame(pd.DataFrame(
        [(2, 7), (7, 4), (10, 11), (20, 21), (21, 22), (22, 23), (23, 2)],
        columns=["id_a", "id_b"]))
    got = {r["node"]: r["group_id"]
           for r in dedup.connected_components(pairs).collect()}
    # the 2-7-4 chain merges with 20-21-22-23 through (23, 2): min is 2
    assert {got[k] for k in (2, 4, 7, 20, 21, 22, 23)} == {2}
    assert got[10] == got[11] == 10
    # duplicate_groups marks exactly one keeper per cluster
    docs = spark.createDataFrame(pd.DataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "alpha beta gamma delta epsilon eta"),   # near dup of 1/2
         (9, "completely different words entirely here now")],
        columns=["doc_id", "text"]))
    groups = dedup.duplicate_groups(dedup.ngram_jaccard_pairs(
        docs, threshold=0.5, max_df=dedup.MAX_SHINGLE_DF)).collect()
    by_id = {r["doc_id"]: r for r in groups}
    assert {r["group_id"] for r in groups} == {1}
    assert by_id[1]["is_keep"] and not by_id[2]["is_keep"]
    assert 9 not in by_id  # no near-dup partner → not clustered


def test_connected_components_deep_chain_one_group(spark):
    """A 40-node descending-id path (39 hops from the max end to the min)
    is one group, labelled with its min, and no warning — never a
    partially merged labeling.  Through ``duplicate_groups`` that means
    exactly one keeper in the group."""
    import warnings

    chain = [(i + 1, i) for i in range(39)]  # path 39-38-...-1-0
    pairs = spark.createDataFrame(pd.DataFrame(chain, columns=["id_a", "id_b"]))
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = {r["node"]: r["group_id"]
               for r in dedup.connected_components(pairs).collect()}
    assert len(got) == 40 and set(got.values()) == {0}


def _cc_labels(pairs):
    return {r["node"]: r["group_id"]
            for r in dedup.connected_components(pairs).collect()}


def test_connected_components_star_deep_chain(spark, monkeypatch):
    """Both sides of ``CC_LOCAL_EDGES``: with the bound at 0 every graph
    takes ``_cc_star`` (large-star/small-star), which gives an adversarial
    1,000-node chain (diameter 999) one group; on a branchy
    multi-component graph the star labels equal the one-task kernel's;
    an empty pair relation gives zero bigint rows on both paths; the
    removed ``algorithm`` option is rejected."""
    import warnings

    chain = [(i + 1, i) for i in range(999)]
    pairs = spark.createDataFrame(pd.DataFrame(chain, columns=["id_a", "id_b"]))
    g = [(2, 7), (7, 4), (10, 11), (20, 21), (21, 22), (22, 23), (23, 2),
         (50, 51)]
    pairs2 = spark.createDataFrame(pd.DataFrame(g, columns=["id_a", "id_b"]))
    empty = spark.createDataFrame([], "id_a bigint, id_b bigint")

    def assert_empty():
        out = dedup.connected_components(empty)
        assert out.schema.simpleString() == \
            "struct<node:bigint,group_id:bigint>"
        assert out.count() == 0

    kernel = _cc_labels(pairs2)
    assert set(kernel.values()) == {2, 10, 50}
    assert_empty()
    star_calls = []
    star = dedup._cc_star
    monkeypatch.setattr(dedup, "_cc_star",
                        lambda e: star_calls.append(1) or star(e))
    monkeypatch.setattr(dedup, "CC_LOCAL_EDGES", 0)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = _cc_labels(pairs)
    assert len(got) == 1000 and set(got.values()) == {0}
    assert _cc_labels(pairs2) == kernel
    monkeypatch.setattr(dedup, "CC_LOCAL_EDGES", -1)  # 0 edges > -1
    assert_empty()
    assert len(star_calls) == 3
    with pytest.raises(TypeError):
        dedup.connected_components(pairs2, algorithm="banana")
    release_cached()


def test_connected_components_build_jobs(spark):
    """Building ``connected_components`` below ``CC_LOCAL_EDGES`` runs
    only the one edge count, however deep the graph: a 1,000-node chain
    launches at most 3 Spark jobs before the action (round-by-round
    label propagation launched hundreds)."""
    chain = [(i + 1, i) for i in range(999)]
    pairs = spark.createDataFrame(pd.DataFrame(chain, columns=["id_a", "id_b"]))
    try:
        cc, jobs = count_jobs(spark, lambda: dedup.connected_components(pairs))
        assert jobs <= 3
        assert cc.count() == 1000
    finally:
        release_cached()


def test_incremental_dedup_across_runs(spark, tmp_path):
    """Cross-run exact dedup: a later batch never re-admits text an earlier
    batch committed; within-batch dups collapse; re-running a batch admits
    nothing (idempotent)."""
    digest_path = str(tmp_path / "digests")
    b1 = spark.createDataFrame(pd.DataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"),
         (3, "unique text one")], columns=["doc_id", "text"]))
    got1 = {r["doc_id"] for r in
            dedup.incremental_dedup(b1, digest_path).collect()}
    assert got1 == {1, 3}  # within-batch dup collapsed to min id
    b2 = spark.createDataFrame(pd.DataFrame(
        [(10, "the quick brown fox"),   # seen in batch 1 → dropped
         (11, "unique text two")], columns=["doc_id", "text"]))
    got2 = {r["doc_id"] for r in
            dedup.incremental_dedup(b2, digest_path).collect()}
    assert got2 == {11}
    # replaying batch 2 admits nothing, and the survivors keep all columns
    replay = dedup.incremental_dedup(b2, digest_path)
    assert replay.count() == 0
    assert set(replay.columns) == {"doc_id", "text"}
    # commit=False previews without mutating state
    b3 = spark.createDataFrame(pd.DataFrame(
        [(20, "unique text three")], columns=["doc_id", "text"]))
    assert dedup.incremental_dedup(b3, digest_path, commit=False).count() == 1
    assert dedup.incremental_dedup(b3, digest_path, commit=False).count() == 1


def test_incremental_dedup_escaped_run_id(spark, tmp_path):
    """A run_id that Spark escapes in its partition directory name
    (``run:A`` is written as ``run_id=run%3AA``) still returns the batch's
    survivors, so its texts are not recorded as seen and then lost."""
    digest_path = str(tmp_path / "digests")
    b1 = spark.createDataFrame(pd.DataFrame(
        [(1, "alpha text"), (2, "beta text")], columns=["doc_id", "text"]))
    got = {r["doc_id"] for r in
           dedup.incremental_dedup(b1, digest_path, run_id="run:A").collect()}
    assert got == {1, 2}
    b2 = spark.createDataFrame(pd.DataFrame(
        [(3, "alpha text"), (4, "gamma text")], columns=["doc_id", "text"]))
    got = {r["doc_id"] for r in
           dedup.incremental_dedup(b2, digest_path, run_id="run/B").collect()}
    assert got == {4}


def test_release_cached_empties_the_cache(spark, docs, emb):
    """Every relation a corpus operator caches is registered with
    ``track_cached``, so ``release_cached()`` alone leaves Spark's cache
    empty after each of them."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # start clean whatever ran before
    release_cached()
    operators = {
        "simhash_near_pairs": lambda: dedup.simhash_near_pairs(docs),
        "ngram_jaccard_pairs": lambda: dedup.ngram_jaccard_pairs(
            docs, threshold=0.5),
        "duplicate_groups": lambda: dedup.duplicate_groups(
            dedup.ngram_jaccard_pairs(docs, threshold=0.5,
                                      max_df=dedup.MAX_SHINGLE_DF)),
        "duplicate_groups(lsh)": lambda: dedup.duplicate_groups(
            dedup.lsh_jaccard_pairs(docs, threshold=0.5)),
        "ivf_topk": lambda: similarity.ivf_topk(
            emb, [1], k=3, n_cells=8),
    }
    for name, op in operators.items():
        op().collect()
        assert not cache.isEmpty(), f"{name} cached nothing"
        assert release_cached() > 0, name
        assert cache.isEmpty(), f"{name} left a relation cached"
    # the LSH candidate steps pair (and score) inside their one shuffle,
    # and the ANN probe joins fresh band keys: nothing to cache or release
    uncached = {
        "dedup.lsh_candidate_pairs": lambda: dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(dedup.word_shingles(docs))),
        "similarity.lsh_candidate_pairs": lambda:
            similarity.lsh_candidate_pairs(emb),
        "lsh_bucketed_topk": lambda: similarity.lsh_bucketed_topk(
            emb, [1], k=3),
        "embedding_near_dups": lambda: similarity.embedding_near_dups(emb),
    }
    for name, op in uncached.items():
        op().collect()
        assert cache.isEmpty(), f"{name} cached a relation"
        assert release_cached() == 0, name


def test_ngram_jaccard_df_cap_drops_stop_shingles(spark):
    """A shingle present in every document must not explode the join — and
    with the cap, docs sharing ONLY stop-shingles produce no pair."""
    common = "the quick brown fox jumps over the lazy dog again"
    rows = [(i, common) for i in range(1, 6)]           # 5 identical docs
    rows += [(10, "unique words here " + common), (11, "other phrasing now " + common)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    # cap at 4: the common shingles (df=7) are dropped; identical docs 1-5
    # lose ALL their shingles → no pairs at all survive
    out = dedup.ngram_jaccard_pairs(df, threshold=0.5, max_df=4).collect()
    assert out == []
    # without the cap the identical docs pair up
    out2 = {(r["id_a"], r["id_b"]) for r in
            dedup.ngram_jaccard_pairs(df, threshold=0.99, max_df=None).collect()}
    assert (1, 2) in out2


def test_ngram_jaccard_matches_exact_reference(spark):
    """The prefix, size, positional and bitmap filters lose no pair: at
    each threshold the operator returns exactly the capped Jaccard pairs
    of a plain-Python reference (distinct word 3-grams, split on ASCII
    ``\\s+``, ``floor(inter * 10000.0 / union)``).  Sizes vary, so both
    orientations of the index-prefix join, the size-tie id tie-break, and
    thresholds whose ceil arithmetic differs between the probe and index
    bounds are exercised."""
    import itertools
    import math
    import re
    from collections import Counter

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lamda mu nu xi omicron pi rho sigma tau upsilon")
    words = base.split()
    rows = []
    for i in range(1, 13):
        # staggered sizes 8..19 words with heavy pairwise overlap
        rows.append((i, " ".join(words[: 8 + (i % 12)])))
    rows += [(20, base), (21, base), (22, base + " phi chi psi")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    def grams(text):
        toks = re.split(r"\s+", text.strip(" "), flags=re.ASCII)
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    sets = {i: grams(t) for i, t in rows}
    df_count = Counter(g for s in sets.values() for g in s)
    sets = {i: {g for g in s if df_count[g] <= dedup.MAX_SHINGLE_DF}
            for i, s in sets.items()}
    for t in (0.5, 0.7, 0.8, 0.9):
        want = set()
        for a, b in itertools.combinations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            if inter:
                j = math.floor(inter * 10000.0 / len(sets[a] | sets[b]))
                if j >= int(t * 10000):
                    want.add((a, b, j))
        got = {(r["id_a"], r["id_b"], r["jaccard_e4"]) for r in
               dedup.ngram_jaccard_pairs(df, threshold=t).collect()}
        release_cached()
        assert got == want, f"pair set diverged at t={t}"
    assert (20, 21, 10000) in got


def test_ivf_topk_finds_near_dups(emb):
    """IVF probing: near-identical vectors share a nearest-centroid cell,
    so the scale path must find them; scores are exact cosine."""
    res = similarity.ivf_topk(emb, [1], k=3, n_cells=8, nprobe=2)
    rows = sorted(res.collect(), key=lambda r: r["rank"])
    ids = [r["neighbor_id"] for r in rows]
    assert 101 in ids and 100 in ids
    exact = {r["neighbor_id"]: r["score_e6"]
             for r in similarity.cosine_topk(emb, [1], k=10).collect()}
    for r in rows:
        assert r["score_e6"] == exact[r["neighbor_id"]]


def test_ivf_recall_on_real_table(spark):
    """Fair recall gate on the sf0.001 embeddings (queries disjoint from the
    sampled centroid set — round 2's id-prefix centroids inflated recall
    because the benchmark queries WERE centroids): at probe fraction
    nprobe/n_cells = 1/8, recall@5 must clearly beat the random-probe
    baseline (0.125).  Deterministic: hash-sampled centroids + fixed data."""
    import __spark_entry__ as em
    emb = em._emb_double(spark, "/root/testdata/sf0.001")
    cids = {r["cell_id"] for r in similarity.ivf_centroids(emb, 16).collect()}
    qids = [i for i in range(100, 140) if i not in cids][:20]
    truth = {(r["query_id"], r["neighbor_id"])
             for r in similarity.cosine_topk(emb, qids, k=5).collect()}
    got = {(r["query_id"], r["neighbor_id"])
           for r in similarity.ivf_topk(emb, qids, k=5, n_cells=16,
                                        nprobe=2).collect()}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.20, f"recall {recall} vs random-probe baseline 0.125"


def _plan(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def test_dedup_and_ann_plans_are_equi_joins(spark):
    """Locks the 100 TB shapes: every dedup/ANN candidate join is an
    equi-join (band key / chunk key / shingle key) — a CartesianProduct or
    non-broadcast nested loop anywhere means the sub-quadratic claim
    silently broke.  The banded-LSH candidate steps join nothing: each is
    one band_key exchange into the bucket kernel, with no cache.  IVF's
    centroid assignment is the ONE sanctioned nested loop and must be
    broadcast-bounded."""
    import __spark_entry__ as em
    sf = "/root/testdata/sf0.001"
    docs = _t_docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    emb = em._emb_double(spark, sf)
    for name, df in [
        ("lsh_pairs", dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(dedup.word_shingles(docs)))),
        ("simhash_pairs", dedup.simhash_near_pairs(docs)),
        ("ngram_jaccard", dedup.ngram_jaccard_pairs(docs)),
        ("ann_lsh_topk", similarity.lsh_bucketed_topk(emb, [0, 1], k=3)),
    ]:
        p = _plan(df)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
    release_cached()

    def executed(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    # every banded-LSH candidate step is one bucket pass: no join, no
    # cache, and exactly one band_key exchange
    sigs = dedup.minhash_signatures(dedup.word_shingles(docs))
    for name, df in [
        ("lsh_pairs", dedup.lsh_candidate_pairs(sigs)),
        ("similarity.lsh_candidate_pairs",
         similarity.lsh_candidate_pairs(emb)),
        ("embedding_near_dups", similarity.embedding_near_dups(emb)),
    ]:
        p = executed(df)
        assert "Join" not in p and "BroadcastExchange" not in p, name
        assert "InMemoryRelation" not in p, name
        assert p.count("Exchange hashpartitioning(band_key") == 1, name
        assert release_cached() == 0, name
    # the ANN probe joins fresh band keys; the MinHash verify (the
    # jaccard_verified query) caches only the per-doc shingle sets its two
    # joins read, and its candidates are the same one bucket pass
    assert "InMemoryRelation" not in executed(
        similarity.lsh_bucketed_topk(emb, [0, 1], k=3))
    assert release_cached() == 0
    p = executed(dedup.lsh_jaccard_pairs(docs))
    assert p.count("Exchange hashpartitioning(band_key") == 1
    assert release_cached() == 1
    # IVF: without the index persist, the N x n_cells broadcast assignment
    # would appear under BOTH consumers of `ranked`; with it the plan reads
    # the materialized assignment and the one nested loop is broadcast
    p = _plan(similarity.ivf_topk(emb, [0, 1], k=3, n_cells=4, nprobe=2))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p
    assert "InMemoryTableScan" in p  # the persisted IVF assignment
    release_cached()


def test_timeseries_plans_have_no_nested_loops(spark):
    """Scale contract for the new joins: as-of is window-only (no join at
    all), the range join is a pure EQUI-join on (key, bucket) — a nested
    loop or cartesian in either plan means the range predicate leaked into
    the join condition."""
    from qwen_ocr_spark.operators import timeseries
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    left = ev.where(F.col("event_type") == "signup")
    right = ev.where(F.col("event_type") == "click")

    asof_plan = timeseries.asof_join(
        left.select("event_id", "user_id", "ts"),
        right.select("event_id", "user_id", "ts", "value"),
    )._jdf.queryExecution().executedPlan().toString()
    assert "Window" in asof_plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in asof_plan, f"as-of join degenerated to {bad}"

    range_plan = timeseries.bucketed_range_agg(
        left, right, window_sec=3600,
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" in range_plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in range_plan, f"range join degenerated to {bad}"


def test_hash_split_disjoint_exhaustive_and_stable(spark):
    from qwen_ocr_spark.operators import sampling
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id")
    split = sampling.hash_split(docs, 80, 10)
    counts = {r["split"]: r["count"] for r in split.groupBy("split").count().collect()}
    n = docs.count()
    assert sum(counts.values()) == n                       # exhaustive
    assert 0.7 * n < counts["train"] < 0.9 * n             # ~80%
    assert counts["val"] > 0 and counts["test"] > 0
    # stability: repartitioning must not change any assignment
    again = sampling.hash_split(docs.repartition(7), 80, 10)
    a = {r["doc_id"]: r["split"] for r in split.collect()}
    b = {r["doc_id"]: r["split"] for r in again.collect()}
    assert a == b
    # sample is a subset-by-content: same rows at any parallelism
    s1 = {r["doc_id"] for r in sampling.hash_sample(docs, 25).collect()}
    s2 = {r["doc_id"] for r in sampling.hash_sample(docs.repartition(3), 25).collect()}
    assert s1 == s2 and 0.15 * n < len(s1) < 0.35 * n


def test_pack_sequences_matches_reference_greedy(spark):
    """Recompute the packing independently in Python (group by lang, order
    by doc_id, bin = floor(cum_before / budget)) and require EXACT bin-id
    agreement — an honest check that doesn't assume dense ids (a single
    over-budget document legitimately skips a bin index)."""
    from qwen_ocr_spark.operators import sampling
    docs = textstats.with_token_count(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    packed = {(r["lang"], r["doc_id"]): r["bin_id"]
              for r in sampling.pack_sequences(docs, bin_tokens=2000).collect()}
    rows = sorted(
        ((r["lang"], r["doc_id"], r["n_tokens"])
         for r in docs.select("lang", "doc_id", "n_tokens").collect()),
    )
    cum: dict = {}
    for lang, doc_id, toks in rows:
        before = cum.get(lang, 0)
        assert packed[(lang, doc_id)] == before // 2000
        cum[lang] = before + toks
    # every output row accounted for
    assert len(packed) == len(rows)
