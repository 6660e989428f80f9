"""Text-analysis operators over a document corpus — all JVM-side.

Training-data pipeline primitives (language ID, quality scoring, token
counting, fingerprinting) expressed entirely in built-in
``pyspark.sql.functions`` so they run inside whole-stage codegen with zero
Python in the hot path.  Each has an exact ANSI-SQL oracle in
``__spark_entry__.py``.

These extend the reference's scope (it processes one PDF at a time); they
are the operations the same engine needs when the corpus is 10^12 rows of
crawl text (BASELINE.json category: extraction / webtext).

``gopher_signals``, a pass the near-dup benchmark times, is written as SQL
text (two ``selectExpr`` levels): each ``pyspark.sql.functions`` call and
``Column`` operator captures its Python call site through a dozen py4j
round trips, so a plan of a few hundred expression nodes costs the driver
more to build than to run.  Conventions: raw Python strings with doubled
regex backslashes, ``D``-suffixed double literals (a bare ``10000.0`` is
DECIMAL and changes the floored values), and data values through
``F.lit``, never pasted into the text.

Input schema: every operator reads the document relation's ``text``
(string) column; the per-document ones (``repetition_stats``,
``gopher_signals``) also key their output by ``doc_id`` (bigint).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The whitespace of every tokenizer (these operators, the shingles and the
# simhash of ``dedup``): RE2's ``\s``, which the DuckDB oracles split on,
# written out.  Java's ``\s`` also matches ``\x0B``: split on it, a text
# holding one tokenizes differently from its oracle.
WS = r"[\t\n\f\r ]"

# Character-trigram profiles per language (round 4; replaces the round-3
# stopword-marker table).  Trigrams are matched as literal substrings of
# ' ' || lower(text) || ' ', so a leading/trailing space inside a trigram
# anchors a word boundary (" th" = word starts with "th").  Still a frozen
# deterministic profile — not a trained model — but, unlike whole-word
# markers, trigrams fire on morphology ("sch", "ção", "ità", "ing") so
# short text with no function words at all ("schönes wetter heute",
# "configuração avançada") still classifies.  Cross-language overlaps
# (" de", "que", "ent") are deliberate: shared trigrams score several
# languages and the DISTINCTIVE ones decide the argmax.  Validated in
# tests/test_operators.py: 27/27 on the crafted multilingual set where the
# old marker table scored 18/27 (all six short no-stopword texts → 'und').
LANG_TRIGRAMS: dict[str, list[str]] = {
    "en": [" th", "the", "he ", " an", "and", "nd ", " of", "of ", " to",
           "ing", "ng ", "ion", "tio", "ent", "ly ", "er "],
    "de": ["der", "er ", "und", " un", "ich", "sch", "ein", "die", "ie ",
           "cht", "ung", "das", "ist", " ge", "en ", "ber"],
    "fr": [" le", "le ", " la", "es ", " de", "de ", "ent", "que", " qu",
           "les", "ait", "eur", "ons", " et", "et ", "ais", "ité", "ées",
           "oir"],
    "es": [" la", "la ", " de", "de ", "os ", "los", "ión", "ado", "que",
           " qu", "par", "ara", " co", "una", " y ", " el", "el ", "ció",
           "as "],
    "it": [" di", "di ", "che", " ch", "to ", "re ", "no ", "lla", "gli",
           "one", "nte", "ata", "ell", "ssi", "na ", "per", " pe", "ità"],
    "pt": [" de", "de ", "os ", " os", "ão ", "ção", " co", "da ", " da",
           "em ", "que", "par", "ara", "uma", "ais", " o ", "ou ", "as ",
           "çã"],
    # round-5 widening: the next six top-crawl Latin-script languages
    # (nl, pl, sv, tr, vi, id) — same recipe: function-word boundaries +
    # language-distinctive morphology ("ijk", "prz/ści", "och/för",
    # "lar/ler", diacritic-bearing Vietnamese syllables, "kan/nya").
    # Validated 27/27 on the extended crafted set (test_operators.py).
    "nl": ["ij ", "ijk", " ij", "het", " he", "van", " va", "een", " ee",
           "aan", "oor", "uit", " ui", "nde", "aar", "gen"],
    "pl": ["prz", " pr", "rze", "szc", "ści", "ych", "ego", "ość", " że",
           "że ", "ał ", "ła ", "owa", "ów ", "ani", "nia"],
    "sv": ["och", " oc", "ch ", "att", " at", "tt ", "för", " fö", "är ",
           " är", "det", "som", " so", "ing", "lig", "ån "],
    "tr": ["lar", "ler", "bir", " bi", "ını", "lık", "yor", " ve", "ve ",
           "dır", "arı", "eri", "ın ", "ir ", "da ", "de "],
    "vi": ["ng ", " ng", "nh ", "ông", "của", " củ", "và ", " và", "một",
           " mộ", "ột ", "ới ", "ại ", "ên ", "ệt ", "ác "],
    "id": ["ang", "ng ", "kan", "an ", "yan", " ya", "men", " me", "ber",
           " be", "nya", "ter", " te", "ah ", "dan", " da"],
}

# Script-range detectors, checked in order BEFORE the trigram argmax (a
# webtext corpus is mostly separable by script; trigrams only need to
# split Latin-script languages).  Kana precedes the CJK-ideograph check
# because Japanese text mixes kanji with kana; the ideograph fallback
# then reads 'zh'.  Ranges are the scripts' core BMP blocks.
SCRIPT_LANGS: list[tuple[str, str]] = [
    ("ja", "[\\u3040-\\u30ff]"),             # hiragana + katakana
    ("ko", "[\\uac00-\\ud7af\\u1100-\\u11ff]"),  # hangul
    ("zh", "[\\u4e00-\\u9fff]"),             # CJK ideographs
    ("ru", "[\\u0400-\\u04ff]"),             # cyrillic
    ("ar", "[\\u0600-\\u06ff]"),             # arabic
    ("he", "[\\u05d0-\\u05ea]"),             # hebrew letters
    ("el", "[\\u03b1-\\u03c9\\u0391-\\u03a9]"),  # greek letters
    ("hi", "[\\u0900-\\u097f]"),             # devanagari
    ("th", "[\\u0e01-\\u0e5b]"),             # thai
]

# Per-language stopword NEEDLES for quality scoring (round 5 — closes the
# "anglocentric quality score" defect in VERDICT r4).  Each entry is the
# literal substring counted in ' ' || lower(text) || ' ':
#   * spaced languages: ' word ' (space-padded whole words)
#   * ko: particle suffixes with a trailing boundary only ('은 ', '를 ' —
#     Korean particles attach to the preceding word, a left pad never hits)
#   * zh/ja/th (UNSPACED_LANGS): bare function characters/particles, and
#     the ratio denominator is CHARACTERS, not whitespace tokens (the
#     script has no word spaces, so token counts are meaningless)
# Keyed off pred_lang so correct Chinese/Russian/Arabic text scores like
# correct English text instead of alpha≈stop≈0.
STOPWORD_NEEDLES: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " a ", " to ", " in ", " is ", " it ",
           " that ", " for "],
    "de": [" der ", " die ", " das ", " und ", " ist ", " nicht ", " ein ",
           " zu ", " den ", " mit "],
    "fr": [" le ", " la ", " les ", " de ", " des ", " et ", " est ",
           " un ", " une ", " que "],
    "es": [" el ", " la ", " los ", " de ", " que ", " y ", " en ", " un ",
           " una ", " es "],
    "it": [" il ", " la ", " di ", " che ", " e ", " un ", " per ",
           " non ", " sono ", " con "],
    "pt": [" o ", " a ", " os ", " de ", " que ", " e ", " um ", " uma ",
           " para ", " com "],
    "nl": [" de ", " het ", " een ", " en ", " van ", " is ", " in ",
           " op ", " dat ", " met "],
    "pl": [" i ", " w ", " nie ", " na ", " się ", " jest ", " z ",
           " do ", " że ", " po "],
    "sv": [" och ", " att ", " det ", " som ", " en ", " är ", " av ",
           " för ", " med ", " på "],
    "tr": [" ve ", " bir ", " bu ", " için ", " ile ", " de ", " da ",
           " olarak ", " çok ", " en "],
    "vi": [" và ", " của ", " là ", " có ", " được ", " một ", " trong ",
           " các ", " cho ", " không "],
    "id": [" yang ", " dan ", " di ", " dengan ", " untuk ", " pada ",
           " adalah ", " ini ", " dari ", " ke "],
    "ru": [" и ", " в ", " не ", " на ", " что ", " с ", " это ", " как ",
           " по ", " но "],
    "ar": [" في ", " من ", " على ", " أن ", " إلى ", " عن ", " هذا ",
           " مع ", " كان ", " لا "],
    "he": [" של ", " את ", " על ", " לא ", " זה ", " עם ", " הוא ", " כי ",
           " גם ", " אם "],
    "el": [" και ", " το ", " να ", " του ", " την ", " της ", " με ",
           " για ", " από ", " είναι "],
    "hi": [" के ", " की ", " का ", " है ", " में ", " से ", " को ",
           " और ", " पर ", " यह "],
    "ko": ["은 ", "는 ", "이 ", "가 ", "을 ", "를 ", "에 ", "의 ", "로 ",
           "와 "],
    "zh": ["的", "了", "是", "在", "我", "有", "和", "不", "人", "这"],
    "ja": ["の", "に", "は", "を", "た", "が", "で", "て", "と", "し"],
    "th": ["ที่", "การ", "ใน", "และ", "เป็น", "ของ", "ได้", "ไม่", "ให้",
           "มี"],
}

# scripts with no word spacing: stopword ratio is per CHARACTER
UNSPACED_LANGS = frozenset({"zh", "ja", "th"})


def _count_occurrences(col: Column, needle: str) -> Column:
    """Occurrences of a literal substring, vectorized: (len(s) - len(remove(s))) / len(needle)."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("int")


def with_lang_id(df: DataFrame) -> DataFrame:
    """Two-stage language ID, all pure column expressions (whole-stage
    codegen'd): script-range short-circuits first (SCRIPT_LANGS order —
    kana→ja before ideographs→zh, hangul→ko, cyrillic→ru, arabic→ar,
    hebrew→he, greek→el, devanagari→hi, thai→th), then the char-trigram
    argmax over ' '||lower(text)||' ' splits Latin-script languages;
    'und' (undetermined) when every score is zero.  Trigram ties break by
    fixed language order (LANG_TRIGRAMS dict order, en first)."""
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    scores = [
        F.struct(
            sum((_count_occurrences(padded, t) for t in trigrams),
                F.lit(0)).alias("score"),
            F.lit(i).alias("prio"),
            F.lit(lang).alias("lang"),
        )
        for i, (lang, trigrams) in enumerate(LANG_TRIGRAMS.items())
    ]
    best = F.array_max(F.array(*[
        s.withField("prio", F.lit(len(LANG_TRIGRAMS)) - s.getField("prio")) for s in scores
    ]))
    pred = F.when(best.getField("score") <= 0, F.lit("und")) \
            .otherwise(best.getField("lang"))
    for lang, pattern in reversed(SCRIPT_LANGS):
        pred = F.when(F.col("text").rlike(pattern), F.lit(lang)) \
                .otherwise(pred)
    return df.withColumn("pred_lang", pred)


def with_token_count(df: DataFrame) -> DataFrame:
    """Whitespace token count plus a BPE-ish subword estimate
    (words + ceil(chars/4) averaged) — both pure column expressions."""
    trimmed = F.trim(F.col("text"))
    words = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, WS + "+"))
    )
    subword_est = F.ceil(F.length(trimmed) / F.lit(4.0)).cast("bigint")
    return (
        df.withColumn("n_tokens", words.cast("bigint"))
          .withColumn("n_subtokens_est", subword_est)
    )


def with_quality_score(df: DataFrame) -> DataFrame:
    """Deterministic, language-aware quality features + score in [0,1]:

    * length_score: min(1, chars/500)
    * alpha_ratio:  unicode-letter+space chars / chars  (``\\p{L}`` — a
      correct Chinese/Russian/Arabic document scores like a correct
      English one; round 5, closes the anglocentric defect in VERDICT r4)
    * stopword_ratio: hits of pred_lang's STOPWORD_NEEDLES / denominator,
      capped at 0.5 and scaled to [0,1].  Denominator is whitespace
      tokens, or CHARACTERS for unspaced scripts (zh/ja/th).  'und' → 0.
    * score = 0.4*length + 0.4*alpha + 0.2*stop

    All four are emitted as ``*_e4`` bigints (floor(x * 10000)): floor on an
    identical double is engine-exact, where round(x, 4) is not (HALF_UP vs
    bankers' rounding ambiguity) — the DuckDB oracle must hash-match.

    Plan shape: pred_lang lands in its OWN projection (computed once per
    row — CollapseProject never inlines a multiply-referenced non-cheap
    alias), and the per-language needle sums live in a when-chain on that
    column, so only the matched language's ~10 substring counts execute
    per row.  Everything stays whole-stage codegen'd; no Python."""
    t = F.col("text")
    chars = F.length(t)
    alpha = F.length(F.regexp_replace(t, r"[^\p{L} ]", ""))
    padded = F.concat(F.lit(" "), F.lower(t), F.lit(" "))
    trimmed = F.trim(t)
    words = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, WS + "+"))
    )
    base = df if "pred_lang" in df.columns else with_lang_id(df)
    pred = F.col("pred_lang")

    hits: Column = F.lit(0)
    for lang, needles in STOPWORD_NEEDLES.items():
        lang_sum = sum((_count_occurrences(padded, n) for n in needles),
                       F.lit(0))
        hits = F.when(pred == lang, lang_sum).otherwise(hits)
    denom = F.when(pred.isin(*sorted(UNSPACED_LANGS)), chars).otherwise(words)

    length_score = F.least(F.lit(1.0), chars / F.lit(500.0))
    alpha_ratio = F.when(chars == 0, F.lit(0.0)).otherwise(alpha / chars)
    stop_ratio = F.when(denom == 0, F.lit(0.0)).otherwise(
        F.least(F.lit(0.5), hits / denom) * 2.0
    )

    def e4(c):
        return F.floor(c * 10000).cast("bigint")

    return (
        base.withColumn("length_score_e4", e4(length_score))
            .withColumn("alpha_ratio_e4", e4(alpha_ratio))
            .withColumn("stopword_score_e4", e4(stop_ratio))
            .withColumn(
                "quality_score_e4",
                e4(0.4 * length_score + 0.4 * alpha_ratio + 0.2 * stop_ratio),
            )
    )


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document — the standard webtext
    quality filters for boilerplate/spam (repeated nav lines, keyword
    stuffing):

    * ``dup_line_frac_e4``   — repeated non-blank lines / lines
    * ``top_bigram_frac_e4`` — occurrences of the most frequent word
      bigram / total bigrams

    Both are pure integer-count ratios floored at e4, so the DuckDB oracle
    hash-matches exactly.  Shapes: the line measure is array functions
    only (no explode); the bigram measure is one explode + two map-side-
    combining aggregations keyed by (doc, bigram) then doc — the same
    shuffle profile as word_shingles, linear in corpus size.  Documents
    with no non-blank lines / no bigram emit 0 (nothing to repeat)."""
    t = F.col("text")
    lines = F.filter(F.split(t, "\n"), lambda x: F.length(F.trim(x)) > 0)
    n_lines = F.size(lines)
    n_dist = F.size(F.array_distinct(lines))
    base = df.select(
        F.col("doc_id"),
        F.when(n_lines == 0, F.lit(0)).otherwise(
            F.floor((n_lines - n_dist) * 10000.0 / n_lines)
        ).cast("bigint").alias("dup_line_frac_e4"),
    )
    toks = F.split(F.trim(t), WS + "+")
    idx = F.when(F.size(toks) >= 2,
                 F.sequence(F.lit(0), F.size(toks) - 2)
                 ).otherwise(F.array().cast("array<int>"))
    bigrams = F.transform(idx, lambda i: F.concat_ws(" ", F.get(toks, i),
                                                     F.get(toks, i + 1)))
    per_bigram = (
        df.select(F.col("doc_id"), F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram").agg(F.count("*").alias("c"))
    )
    top = per_bigram.groupBy("doc_id").agg(
        F.max("c").alias("max_c"), F.sum("c").alias("n_bigrams"))
    return (
        base.join(top, on="doc_id", how="left")
        .select(
            "doc_id",
            "dup_line_frac_e4",
            F.coalesce(
                F.floor(F.col("max_c") * 10000.0 / F.col("n_bigrams"))
                 .cast("bigint"),
                F.lit(0).cast("bigint"),
            ).alias("top_bigram_frac_e4"),
        )
    )


def _frac_e4(num: str, den: str) -> str:
    """SQL text of ``floor(num * 10000 / den)`` as bigint, 0 when ``den``
    is 0 (``10000.0D``: a bare ``10000.0`` is a DECIMAL literal)."""
    return (f"CAST(CASE WHEN {den} = 0 THEN 0 "
            f"ELSE floor({num} * 10000.0D / {den}) END AS BIGINT)")


# gopher_signals' SQL-text pieces.  Raw strings: the SQL parser unescapes
# string literals, so a regex backslash is written doubled ('\\z' reaches
# the regex engine as \z; a single '\z' would reach it as a plain 'z'),
# and ``_WS`` is ``WS`` so written.
_WS = WS.replace("\\", "\\\\")


def gopher_signals(df: DataFrame) -> DataFrame:
    """The remaining Gopher-style document-quality signals (round 5;
    complements repetition_stats and with_quality_score):

    * ``mean_word_len_e4``      — mean characters per whitespace token
    * ``symbol_word_frac_e4``   — tokens containing '#' or ellipsis / tokens
    * ``bullet_line_frac_e4``   — non-blank lines starting with a bullet
                                  ('-', '*', '•') / lines
    * ``ellipsis_line_frac_e4`` — non-blank lines ending with '...' or '…'

    Gopher's corresponding filters: mean word length in [3,10], symbol
    ratio < 0.1, bullet lines < 90%, ellipsis lines < 30%.  All pure
    column expressions, e4-floored for exact oracle hashing; empty
    documents emit zeros.  Whitespace and line ends follow the DuckDB
    oracle's RE2: tokens split on ``_WS`` and an ellipsis must end the
    line (``\\z``; Java's ``$`` also matches before a final ``\\r``).

    Two SQL-text projections (module docstring).  The lower one splits
    each document once into ``toks`` and ``lines`` and sums the token
    lengths; the upper one computes the four fractions from them.  In one
    projection every use of a split re-ran it: a higher-order function
    (each ``x -> ...`` lambda) is evaluated interpreted, and
    common-subexpression elimination does not look inside one.
    CollapseProject keeps the two levels apart because
    ``toks`` and ``lines`` are not cheap and the upper level reads each
    more than once.  The sum of token lengths is the chars of trim(text)
    with every ``_WS`` removed (tokens are exactly the maximal non-``_WS``
    runs of trim(text)): pure length arithmetic stays in codegen where an
    aggregate/transform lambda fold is interpreted per element (round-2
    gotcha)."""
    sym = ("size(filter(toks, x -> contains(x, '#') "
           "OR contains(x, '...') OR contains(x, '…')))")
    bullet = "size(filter(lines, x -> trim(x) RLIKE '^[-*•]'))"
    ellipsis = r"size(filter(lines, x -> trim(x) RLIKE '(\\.\\.\\.|…)\\z'))"
    return df.selectExpr(
        "doc_id",
        "CASE WHEN length(trim(text)) = 0 THEN CAST(array() AS array<string>)"
        f" ELSE split(trim(text), '{_WS}+') END AS toks",
        r"filter(split(text, '\n'), x -> length(trim(x)) > 0) AS lines",
        f"length(regexp_replace(trim(text), '{_WS}', '')) AS tok_chars",
    ).selectExpr(
        "doc_id",
        f"{_frac_e4('tok_chars', 'size(toks)')} AS mean_word_len_e4",
        f"{_frac_e4(sym, 'size(toks)')} AS symbol_word_frac_e4",
        f"{_frac_e4(bullet, 'size(lines)')} AS bullet_line_frac_e4",
        f"{_frac_e4(ellipsis, 'size(lines)')} AS ellipsis_line_frac_e4",
    )


def with_fingerprint(df: DataFrame) -> DataFrame:
    """Normalization fingerprint: md5 of lower(collapse_ws(trim(text))) —
    the exact-dup key that survives whitespace/case jitter."""
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), WS + "+", " ")))
    return df.withColumn("fingerprint", F.md5(norm.cast("binary")))
