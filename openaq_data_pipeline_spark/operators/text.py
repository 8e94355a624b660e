"""Text-analysis operators for large-scale training-data pipelines.

These extend the reference's surface (BASELINE.json north star): the
operations an LLM-data pipeline runs over a ``documents`` table —
language ID, quality scoring, token counting, fingerprinting. All are
pure Column expressions (whole-stage codegen, no Python), so they run
at parquet-scan speed on any cluster size; per-row cost is O(len).

Engine-neutral determinism: hashes are MD5-derived (identical in any
engine), ratios use exact integer rounding (catalog.exact_ratio_*).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WHITESPACE = r"\s+"

# A BPE-ish word/punct tokenizer: words-with-apostrophes, numbers, or
# single non-space symbols — close to the pre-tokenizers used for LLM
# corpora, and expressible as one regexp in any engine.
BPE_TOKEN_RE = r"[A-Za-z]+(?:'[A-Za-z]+)?|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]

# language marker words for the n-gram/stopword heuristic language ID
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "los", "que", "de"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "les", "des", "est", "une"],
}


def normalize(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed
    whitespace, trimmed."""
    return F.trim(F.regexp_replace(F.lower(text), WHITESPACE, " "))


def tokens(text: Column) -> Column:
    """Whitespace tokens (array<string>)."""
    return F.split(F.trim(text), WHITESPACE)


def token_count(text: Column) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    return F.when(F.trim(text) == "", F.lit(0)).otherwise(
        F.size(tokens(text))
    ).cast("long")


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token count via the symbol-aware regexp."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0)).cast("long")


def _count_re(text: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(pattern), 0)).cast("long")


def stopword_count(text: Column, stopwords: list[str] | None = None) -> Column:
    pat = r"\b(?:" + "|".join(stopwords or STOPWORDS) + r")\b"
    return _count_re(F.lower(text), pat)


def lang_id(text: Column, markers: dict[str, list[str]] | None = None) -> Column:
    """Heuristic language ID: the language whose marker-stopword hit
    count is highest wins (ties broken by a fixed language order);
    no hits → 'und'. One regexp count per language — vectorized,
    shuffle-free. This is the cheap single-expression tier; the
    production path is the model-based
    :func:`~openaq_data_pipeline_spark.operators.lm.lang_id_trigram`
    (character-trigram LMs per language, r9)."""
    markers = markers or LANG_MARKERS
    lowered = F.lower(text)
    scores = []
    for lang, words in markers.items():
        pat = r"\b(?:" + "|".join(words) + r")\b"
        scores.append((lang, _count_re(lowered, pat)))
    best_score = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    # reversed fixed order → earlier languages win ties
    for lang, score in reversed(scores):
        expr = F.when((score == best_score) & (best_score > 0), F.lit(lang)).otherwise(
            expr
        )
    return expr


def fingerprint(text: Column) -> Column:
    """Whole-document fingerprint: MD5 of the normalized text (the
    exact-dedup key)."""
    return F.md5(normalize(text))


def shingle_fingerprints(df, text_col: str, id_col: str, n: int = 3, keep: int = 4):
    """DataFrame → (id, fingerprints array<string>): the ``keep``
    smallest shingle MD5s per document (winnowing-style selection —
    the rolling-hash fingerprint family). Expressed with builtin
    array functions — no UDF; documents with < n tokens yield no
    row. The token array is projected before the lambda (Catalyst
    does not CSE inside HOF lambdas — see operators/dedup.shingles)."""
    w = F.col("__w")
    return (
        df.select(F.col(id_col), tokens(normalize(F.col(text_col))).alias("__w"))
        .where(F.size(w) >= n)
        .select(
            F.col(id_col),
            F.slice(
                F.array_sort(
                    F.transform(
                        F.sequence(F.lit(1), F.size(w) - (n - 1)),
                        lambda i: F.md5(F.concat_ws(" ", F.slice(w, i, n))),
                    )
                ),
                1,
                keep,
            ).alias("fingerprints"),
        )
    )


def repetition_signals(df, text_col: str, id_col: str, n: int = 2):
    """DataFrame → (id, n_grams, frac_top_gram, frac_dup_grams):
    Gopher-style repetition quality signals — the fraction of word
    n-grams claimed by the single most frequent n-gram, and the
    fraction occurring more than once. Boilerplate, keyword-stuffed,
    and loop-generated documents light up on these long before a
    perplexity filter sees them (cf. the repetition filters in the
    Gopher/MassiveText and RefinedWeb data papers).

    Unlike this module's Column expressions, repetition needs a
    per-document n-gram histogram: one explode + two hash aggregates
    ((id, gram) counts, then per-id moments), both partial-aggregated
    map-side — shuffled volume is distinct grams per doc, not corpus
    size. Ratios use exact integer rounding (engine-neutral).
    Documents with < n tokens are excluded."""
    from openaq_data_pipeline_spark.catalog import exact_ratio_spark
    from openaq_data_pipeline_spark.operators.dedup import shingles

    grams = shingles(
        df.where(F.size(tokens(normalize(F.col(text_col)))) >= n),
        text_col,
        id_col,
        n=n,
        distinct=False,
    )
    per_gram = grams.groupBy(id_col, "shingle").agg(F.count(F.lit(1)).alias("c"))
    agg = per_gram.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_grams"),
        F.max("c").cast("long").alias("__top"),
        F.coalesce(F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0))
        .cast("long")
        .alias("__dup"),
    )
    return agg.select(
        F.col(id_col),
        "n_grams",
        exact_ratio_spark(F.col("__top"), F.col("n_grams")).alias("frac_top_gram"),
        exact_ratio_spark(F.col("__dup"), F.col("n_grams")).alias("frac_dup_grams"),
    )


def top_ngrams(df, text_col: str, id_col: str, n: int = 1, k: int = 50):
    """Corpus-level vocabulary heavy hitters: the ``k`` most frequent
    word ``n``-grams with occurrence and document-frequency counts —
    the corpus-statistics pass behind tokenizer/vocab construction
    and stop-gram lists (normalized tokens, ties broken by gram text
    so the top-k set is deterministic).

    Returns (gram_len, rank, gram, n_occurrences, n_docs).

    Scale design (100 TB): one explode feeds a (gram → count,
    distinct-doc count) hash aggregate with map-side partials —
    shuffled volume is the distinct-gram vocabulary, not corpus
    size; the global top-k is ``orderBy().limit(k)``, which Spark
    executes as TakeOrderedAndProject (per-partition heaps of k,
    driver merge of #partitions·k rows — never a full sort). The
    rank window runs on the k survivors only."""
    from pyspark.sql import Window
    from openaq_data_pipeline_spark.operators.dedup import shingles

    grams = shingles(
        df.where(F.size(tokens(normalize(F.col(text_col)))) >= n),
        text_col,
        id_col,
        n=n,
        distinct=False,
    )
    counts = grams.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.count_distinct(F.col(id_col)).cast("long").alias("n_docs"),
    )
    top = counts.orderBy(F.desc("n_occurrences"), F.asc("shingle")).limit(k)
    # the rank window is a single partition BY DESIGN: it runs over
    # exactly k rows (post-limit), not the corpus
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("shingle"))
    return top.select(
        F.lit(n).alias("gram_len"),
        F.row_number().over(w).cast("long").alias("rank"),
        F.col("shingle").alias("gram"),
        "n_occurrences",
        "n_docs",
    )


GOPHER_REQUIRED_STOPWORDS = [
    "the", "be", "to", "of", "and", "that", "have", "with",
]


def gopher_rules(
    df,
    text_col: str,
    id_col: str,
    required_stopwords: list[str] | None = None,
    min_required_stopwords: int = 2,
):
    """The Gopher quality-heuristic set (Rae et al. 2021, Appendix
    A) — the published rule battery most open-data pipelines
    (MassiveText, RefinedWeb, Dolma lineage) apply before anything
    model-based: per document, seven structural rules plus the
    conjunction verdict. Every rule is exact integer arithmetic
    (ratio thresholds as cross-multiplications — 10·n_sym ≤ n_words,
    not a float division), so the whole battery is one codegen'd
    projection, shuffle-free, and hash-identical across engines.

    Rules (thresholds are the paper's):
    - ``r_word_count``: 50 ≤ words ≤ 100 000;
    - ``r_mean_word_len``: mean word length in [3, 10] (letters =
      normalized length minus the n−1 separator spaces);
    - ``r_symbol_ratio``: (# + ellipsis) per word ≤ 0.1;
    - ``r_bullet_lines``: ≤ 90% of lines start with a bullet
      (the paper removes documents with MORE than 90% bullet lines);
    - ``r_ellipsis_lines``: ≤ 30% of lines end with an ellipsis;
    - ``r_alpha_words``: ≥ 80% of words contain a letter;
    - ``r_stopwords``: ≥ ``min_required_stopwords`` distinct
      required stop words present (default set = the paper's eight;
      downstream corpora re-instantiate it per language/domain —
      Dolma and RefinedWeb both ship adapted sets — which is why it
      is a parameter, not a constant);
    - ``keep``: all of the above (empty documents fail).
    """
    required_stopwords = required_stopwords or GOPHER_REQUIRED_STOPWORDS
    norm = normalize(F.col(text_col))
    toks = tokens(norm)
    n_words = F.when(norm == "", F.lit(0)).otherwise(F.size(toks)).cast(
        "long"
    )
    letters = (F.length(norm) - (n_words - 1)).cast("long")
    n_sym = (
        _count_re(F.col(text_col), r"#") + _count_re(F.col(text_col), r"\.\.\.")
    ).cast("long")
    lines = F.split(F.col(text_col), r"\n")
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]"))
    ).cast("long")
    n_ell = F.size(F.filter(lines, lambda l: l.rlike(r"\.\.\.\s*$"))).cast(
        "long"
    )
    n_alpha_words = F.size(
        F.filter(toks, lambda t: t.rlike(r"[a-z]"))
    ).cast("long")
    n_req_stop = sum(
        F.when(
            F.lower(F.col(text_col)).rlike(r"\b" + w + r"\b"), F.lit(1)
        ).otherwise(F.lit(0))
        for w in required_stopwords
    ).cast("long")
    r_wc = n_words.between(50, 100000)
    r_mwl = (n_words > 0) & (3 * n_words <= letters) & (
        letters <= 10 * n_words
    )
    r_sym = 10 * n_sym <= n_words
    r_bul = 10 * n_bullet <= 9 * n_lines
    r_ell = 10 * n_ell <= 3 * n_lines
    r_alpha = 5 * n_alpha_words >= 4 * n_words
    r_stop = n_req_stop >= min_required_stopwords
    keep = (
        (n_words > 0)
        & r_wc & r_mwl & r_sym & r_bul & r_ell & r_alpha & r_stop
    )
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        r_wc.alias("r_word_count"),
        r_mwl.alias("r_mean_word_len"),
        r_sym.alias("r_symbol_ratio"),
        r_bul.alias("r_bullet_lines"),
        r_ell.alias("r_ellipsis_lines"),
        r_alpha.alias("r_alpha_words"),
        r_stop.alias("r_stopwords"),
        keep.alias("keep"),
    )


def _quote_literal(word: str) -> str:
    """Regex-quote ``word`` for Java's regex engine: \\Q…\\E with any
    embedded ``\\E`` split out and escaped (``java.util.regex.
    Pattern.quote`` semantics) — a naive ``\\Q{w}\\E`` silently turns
    the tail of a word containing ``\\E`` into live regex."""
    # Each embedded "\E" becomes: end-quote, escaped backslash,
    # literal E, restart-quote — exactly Pattern.quote's rewrite.
    return "\\Q" + word.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def c4_rules(
    df,
    text_col: str,
    id_col: str,
    bad_words: list[str] | None = None,
):
    """The C4 cleaning battery (Raffel et al. 2020, §2.2 — the
    Common Crawl filter behind T5 and the C4/mC4 corpora), the
    line-level complement to the document-level :func:`gopher_rules`:

    LINE filters (the kept lines become ``clean_text``):
    - ends in a terminal punctuation mark (. ! ? or an end quote);
    - contains at least 3 words;
    - does not contain the word "javascript" (any case).

    PAGE filters (conjunction = ``keep``):
    - ``r_min_sentences``: ≥ 5 sentences AFTER line cleaning
      (sentences counted as terminal ``.!?`` marks in the kept
      lines — the paper does not pin a sentence splitter, so the
      count rule is stated here and mirrored by the oracle);
    - ``r_no_lorem``: no "lorem ipsum" (any case);
    - ``r_no_brace``: no ``{`` (the paper's code-page proxy);
    - ``r_no_badwords``: no word from ``bad_words`` (the paper
      matches the public LDNOOBW list; the list is a PARAMETER and
      defaults to none — shipping an obscenity list inside an
      engine is wrong, and downstream corpora localize it anyway).

    Everything is one codegen'd projection over line arrays —
    shuffle-free, Python-free, exact across engines."""
    lines = F.split(F.col(text_col), r"\n")
    kept_lines = F.filter(
        lines,
        lambda l: l.rlike(r'[.!?"”]\s*$')
        & (F.length(F.trim(l)) > 0)
        & (F.size(F.split(F.trim(l), r"\s+")) >= 3)
        & ~l.rlike(r"(?i)\bjavascript\b"),
    )
    clean_text = F.array_join(kept_lines, "\n")
    n_sentences = F.size(
        F.regexp_extract_all(clean_text, F.lit(r"[.!?]"), 0)
    ).cast("long")
    r_sent = n_sentences >= 5
    r_lorem = ~F.lower(F.col(text_col)).contains("lorem ipsum")
    r_brace = ~F.col(text_col).contains("{")
    if bad_words:
        # Quote each word so regex metacharacters ('.', '(', '+')
        # match literally. \Q…\E alone breaks when a word itself
        # contains the two-char sequence '\E' (quoting ends early and
        # the tail runs as live regex), so split on '\E' and re-quote
        # each piece with the separator escaped — the same scheme as
        # java.util.regex.Pattern.quote.
        r_bad = ~F.lower(F.col(text_col)).rlike(
            r"\b(?:" + "|".join(_quote_literal(w) for w in bad_words) + r")\b"
        )
    else:
        r_bad = F.lit(True)
    keep = r_sent & r_lorem & r_brace & r_bad
    return df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept_lines).cast("long").alias("n_kept_lines"),
        n_sentences.alias("n_sentences"),
        r_sent.alias("r_min_sentences"),
        r_lorem.alias("r_no_lorem"),
        r_brace.alias("r_no_brace"),
        r_bad.alias("r_no_badwords"),
        keep.alias("keep"),
        clean_text.alias("clean_text"),
    )


def normalize_unicode(
    df, text_col: str, form: str = "NFKC", casefold: bool = True
):
    """Unicode-normalize a text column (stdlib ``unicodedata`` over
    Arrow batches) — the step every serious dedup pipeline runs
    BEFORE shingling: fullwidth/compatibility forms, combining
    sequences and case variants otherwise defeat exact and fuzzy
    fingerprints alike ('ﬁle' vs 'file', 'café' composed vs
    decomposed). ``mapInPandas`` because no JVM builtin exposes
    NFC/NFKC; per-row cost is C-implemented stdlib, Arrow both
    directions, schema preserved with ``text_col`` replaced."""
    import unicodedata

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    cols = df.columns
    schema = df.schema

    def norm(batches):
        for pdf in batches:
            pdf[text_col] = [
                None
                if t is None
                else (
                    unicodedata.normalize(form, t).casefold()
                    if casefold
                    else unicodedata.normalize(form, t)
                )
                for t in pdf[text_col]
            ]
            yield pdf[cols]

    return df.mapInPandas(norm, schema=schema)


# --- HTML → text extraction (r8): the crawl-pipeline front door ---------
#
# Before dedup/quality/tokenization ever run, a web-crawl pipeline
# must turn raw HTML into text. This is the boilerplate-strip step as
# a chain of codegen `regexp_replace`s — entirely JVM-side, no UDF,
# no shuffle, so it fuses into the scan like the other text signals.
# Scope: structural extraction (drop non-content blocks, strip
# markup, decode the common entities, preserve paragraph breaks) —
# the DOM-tree content-density heuristics of a trafilatura-class
# extractor are out of scope and would need a real parser UDF.

# non-content blocks whose INNER TEXT must vanish with the tags
_HTML_DROP_BLOCKS = ("script", "style", "noscript", "head", "svg", "iframe")
# block-level tags that imply a paragraph/line break in the text
_HTML_BREAK_TAGS = (
    "p|div|br|li|ul|ol|dl|dt|dd|h[1-6]|tr|table|thead|tbody|section|article"
    "|aside|header|footer|blockquote|pre|hr|form|figure|figcaption|nav"
)
# named entities a regex chain can decode ('&amp;' must decode LAST,
# so '&amp;lt;' yields the literal text '&lt;', not '<')
_HTML_ENTITIES = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
    ("&apos;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
]


def html_extract(html: Column) -> Column:
    """Visible text of an HTML column: comments and
    script/style/noscript/head/svg/iframe blocks vanish with their
    contents, block-level tags become newlines (paragraph structure
    survives for the chunkers downstream), remaining tags strip, the
    common named entities decode (numeric ``&#NNNN;`` forms beyond
    ``&#39;`` are out of regex reach — a documented residual), and
    whitespace collapses: intra-line runs to one space, 3+ newlines
    to a paragraph break. NULL passes through. Plain text without
    markup is a fixed point.

    WHICH EXTRACTOR (decision note, r10 — the two are deliberate
    parallel paths): this regex chain is KEEP-EVERYTHING — all
    visible text survives, it runs JVM-side inside whole-stage
    codegen (no Python worker), and its output is exactly what the
    closed-form oracle predicts, so it is the right front door for
    template-known corpora (exports, wikis, fixtures) and anywhere
    recall beats precision. :func:`html_extract_density` is
    MAIN-CONTENT-ONLY — the jusText/Arc90 block-density heuristic
    drops nav/footer/boilerplate at the cost of an Arrow Python
    stage and heuristic (non-closed-form) output; it is the right
    front door for open-web crawl pages, and what the streaming
    crawl intake uses. Rule of thumb: unknown/boilerplate-heavy
    HTML → density; known-shape HTML or oracle-checked paths →
    this chain."""
    t = F.regexp_replace(html, r"(?is)<!--.*?-->", "")
    for tag in _HTML_DROP_BLOCKS:
        t = F.regexp_replace(t, rf"(?is)<{tag}\b[^>]*>.*?</{tag}\s*>", " ")
    t = F.regexp_replace(t, rf"(?i)</?(?:{_HTML_BREAK_TAGS})\b[^>]*/?>", "\n")
    t = F.regexp_replace(t, r"(?s)<[^>]+>", " ")
    for ent, rep in _HTML_ENTITIES:
        t = F.regexp_replace(t, ent, rep)
    t = F.regexp_replace(t, r"[ \t\x0b\f\r]+", " ")        # runs of blanks
    t = F.regexp_replace(t, r" ?\n ?", "\n")               # trim around breaks
    t = F.regexp_replace(t, r"\n{3,}", "\n\n")             # paragraph break max
    return F.regexp_replace(t, r"^\s+|\s+$", "")           # full trim (incl. \n)


def html_to_markdown(html: Column) -> Column:
    """HTML → Markdown as one whole-stage-codegen regexp chain (r15:
    the html-to-markdown step LLM pretraining pipelines run so
    structure — headings, links, emphasis, code, lists — survives
    into the training text instead of flattening away; same posture
    and tag policy as :func:`html_extract`, which remains the
    plain-text face).

    Conversions: ``<h1..h6>`` → ``#``-prefixed lines; ``<a href>`` →
    ``[text](href)``; ``<strong>/<b>`` → ``**…**``; ``<em>/<i>`` →
    ``*…*``; ``<code>`` → `` `…` ``; ``<pre>`` → fenced blocks;
    ``<li>`` → ``- `` items; ``<blockquote>`` → ``> `` lines;
    ``<hr>`` → ``---``. Comments and
    script/style/noscript/head/svg/iframe vanish with contents,
    other tags strip, entities decode, whitespace collapses.
    Extraction-grade, documented bounds: nesting inside converted
    inline spans renders inside-out like any regexp pass (inner
    tags convert first only when they do not cross the outer
    pattern); ``<pre>`` interiors share the global whitespace
    collapse (indentation-significant code should ride the raw
    plane). Plain text is a fixed point; NULL passes through."""
    t = F.regexp_replace(html, r"(?is)<!--.*?-->", "")
    for tag in _HTML_DROP_BLOCKS:
        t = F.regexp_replace(t, rf"(?is)<{tag}\b[^>]*>.*?</{tag}\s*>", " ")
    # links first (their attribute carries content): [text](href)
    t = F.regexp_replace(
        t,
        r'(?is)<a\s[^>]*href\s*=\s*["\']([^"\']*)["\'][^>]*>(.*?)</a\s*>',
        r"[$2]($1)",
    )
    # headings: the tag's digit becomes the marker depth
    for depth in range(1, 7):
        t = F.regexp_replace(
            t,
            rf"(?is)<h{depth}\b[^>]*>(.*?)</h{depth}\s*>",
            "\n\n" + "#" * depth + " $1\n\n",
        )
    t = F.regexp_replace(
        t, r"(?is)<(?:strong|b)\b[^>]*>(.*?)</(?:strong|b)\s*>",
        r"**$1**",
    )
    t = F.regexp_replace(
        t, r"(?is)<(?:em|i)\b[^>]*>(.*?)</(?:em|i)\s*>", r"*$1*"
    )
    t = F.regexp_replace(
        t, r"(?is)<pre\b[^>]*>(.*?)</pre\s*>", "\n\n```\n$1\n```\n\n"
    )
    t = F.regexp_replace(
        t, r"(?is)<code\b[^>]*>(.*?)</code\s*>", r"`$1`"
    )
    t = F.regexp_replace(
        t, r"(?is)<li\b[^>]*>\s*(.*?)\s*</li\s*>", "\n- $1"
    )
    t = F.regexp_replace(
        t, r"(?is)<blockquote\b[^>]*>\s*(.*?)\s*</blockquote\s*>",
        "\n\n> $1\n\n",
    )
    t = F.regexp_replace(t, r"(?i)<hr\b[^>]*/?>", "\n\n---\n\n")
    t = F.regexp_replace(
        t, rf"(?i)</?(?:{_HTML_BREAK_TAGS})\b[^>]*/?>", "\n"
    )
    t = F.regexp_replace(t, r"(?s)<[^>]+>", " ")
    for ent, rep in _HTML_ENTITIES:
        t = F.regexp_replace(t, ent, rep)
    t = F.regexp_replace(t, r"[ \t\x0b\f\r]+", " ")
    t = F.regexp_replace(t, r" ?\n ?", "\n")
    t = F.regexp_replace(t, r"\n{3,}", "\n\n")
    return F.regexp_replace(t, r"^\s+|\s+$", "")


def html_title(html: Column) -> Column:
    """<title> text (entity-decoded, whitespace-collapsed), or NULL
    when absent/empty."""
    raw = F.regexp_extract(html, r"(?is)<title[^>]*>(.*?)</title>", 1)
    t = raw
    for ent, rep in _HTML_ENTITIES:
        t = F.regexp_replace(t, ent, rep)
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return F.when(t != "", t)


# a <table ...> opened again before the previous one closed — the
# page needs the depth-counting scan; everything else takes the flat
# regex fast path untouched
_NESTED_TABLE_PROBE = r"(?is)<table\b[^>]*>(?:(?!</table).)*<table\b"

# token boundaries for the depth scan: BEFORE every table/tr open tag
# and AROUND every canonical close tag (the fixed-width lookbehind
# isolates closes as their own tokens, so every token is one of:
# open-tag+content, lone close tag, or plain content)
_TABLE_TOKEN_SPLIT = (
    r"(?i)(?=<table\b)|(?=<tr\b)|(?=</table\s*>)|(?<=</table>)"
    r"|(?=</tr\s*>)|(?<=</tr>)"
)

# one left fold over the token stream: a stack of open table ids
# (document-open order, matching the flat path's numbering), a stack
# of open rows, and the emitted (tid, html) rows. A row accumulates
# only content at ITS OWN table depth — a nested table's markup never
# leaks into the outer row's cells; the nested table emits its own
# rows under its own id. try_element_at guards the ANSI-mode empty
# stacks; rows outside any table (tid -1) are filtered after.
_TABLE_FOLD_SQL = """
aggregate(
  filter(__tok, t -> t <> ''),
  named_struct(
    'ts', cast(array() as array<int>),
    'nx', 0,
    'rs', cast(array() as array<struct<tid:int, buf:string>>),
    'out', cast(array() as array<struct<tid:int, html:string>>)),
  (s, t) -> CASE
    WHEN t rlike '(?is)^<table\\\\b' THEN named_struct(
      'ts', concat(s.ts, array(s.nx)), 'nx', s.nx + 1,
      'rs', s.rs, 'out', s.out)
    WHEN t rlike '(?is)^</table\\\\s*>' THEN named_struct(
      'ts', slice(s.ts, 1, greatest(size(s.ts) - 1, 0)), 'nx', s.nx,
      'rs', filter(s.rs, r -> size(s.ts) = 0
                              or r.tid != try_element_at(s.ts, -1)),
      'out', s.out)
    WHEN t rlike '(?is)^<tr\\\\b' THEN named_struct(
      'ts', s.ts, 'nx', s.nx,
      'rs', concat(s.rs, array(named_struct(
        'tid', coalesce(try_element_at(s.ts, -1), -1),
        'buf', regexp_replace(t, '(?is)^<tr\\\\b[^>]*>', '')))),
      'out', s.out)
    WHEN t rlike '(?is)^</tr\\\\s*>' THEN
      CASE WHEN size(s.rs) > 0
                AND try_element_at(s.rs, -1).tid
                    = coalesce(try_element_at(s.ts, -1), -1)
      THEN named_struct(
        'ts', s.ts, 'nx', s.nx,
        'rs', slice(s.rs, 1, size(s.rs) - 1),
        'out', concat(s.out, array(named_struct(
          'tid', try_element_at(s.rs, -1).tid,
          'html', try_element_at(s.rs, -1).buf))))
      ELSE named_struct('ts', s.ts, 'nx', s.nx, 'rs', s.rs,
                        'out', s.out)
      END
    ELSE
      CASE WHEN size(s.rs) > 0
                AND try_element_at(s.rs, -1).tid
                    = coalesce(try_element_at(s.ts, -1), -1)
      THEN named_struct(
        'ts', s.ts, 'nx', s.nx,
        'rs', concat(slice(s.rs, 1, size(s.rs) - 1), array(named_struct(
          'tid', try_element_at(s.rs, -1).tid,
          'buf', concat(try_element_at(s.rs, -1).buf, t)))),
        'out', s.out)
      ELSE named_struct('ts', s.ts, 'nx', s.nx, 'rs', s.rs,
                        'out', s.out)
      END
  END,
  s -> s.out)
"""


def html_extract_tables(
    df,
    html_col: str,
    id_col: str,
) -> "DataFrame":
    """Relational rows out of HTML ``<table>`` markup — the
    structured-mining face of the crawl text plane (web tables are a
    first-class training/data source the prose extractors flatten
    into soup): one output row per ``<tr>`` with
    (id, table_index, row_index, is_header, cells array<string>,
    n_cells). Cell text strips inner tags, decodes the common
    entities and collapses whitespace (the :func:`html_extract`
    conventions); ``is_header`` marks rows carrying ``<th>``.

    Pure codegen, two-speed (r13, VERDICT r12 missing #4): pages
    without nested tables — the overwhelming majority — take three
    nested ``regexp_extract_all`` tiers (table → tr → td/th), plan
    unchanged from r12; pages where a ``<table>`` opens inside
    another take a depth-counting left fold over a token split
    (one ``aggregate`` higher-order function, still no Python, no
    shuffle): every table emits its own rows under its own
    document-open-order index, an inner table no longer truncates
    its outer's remaining rows, and a nested table's markup stays
    out of the outer row's cells. Residuals: a non-canonical close
    (``</table >``) inside a nested page drops any content sharing
    its token; rows missing an explicit ``</tr>`` don't extract
    (both paths, as in r12). Rows-per-page output is explode-sized;
    at 100 TB the exchange after this operator is whatever the
    CALLER groups by — the extraction itself is shuffle-free."""
    probe = F.col(html_col).rlike(_NESTED_TABLE_PROBE)

    tables = F.regexp_extract_all(
        F.col(html_col),
        F.lit(r"(?is)<table\b[^>]*>(.*?)</table\s*>"),
        1,
    )
    per_table = df.where(~F.coalesce(probe, F.lit(False))).select(
        F.col(id_col),
        F.posexplode(tables).alias("table_index", "__t"),
    )
    rows = F.regexp_extract_all(
        F.col("__t"), F.lit(r"(?is)<tr\b[^>]*>(.*?)</tr\s*>"), 1
    )
    flat_rows = per_table.select(
        F.col(id_col),
        F.col("table_index").cast("int"),
        F.posexplode(rows).alias("row_index", "__r"),
    )

    # nested path: fold → (tid, html) rows in document order, then
    # per-table renumbering (an O(rows²)-per-page prefix count — rows
    # per page are human-sized; no window, no shuffle)
    folded = (
        df.where(F.coalesce(probe, F.lit(False)))
        .select(
            F.col(id_col),
            F.split(F.col(html_col), _TABLE_TOKEN_SPLIT).alias("__tok"),
        )
        .select(F.col(id_col), F.expr(_TABLE_FOLD_SQL).alias("__rows"))
    )
    renumbered = F.expr(
        """
        filter(
          transform(__rows, (r, i) -> named_struct(
            'tid', r.tid,
            'ridx', size(filter(slice(__rows, 1, i),
                                p -> p.tid = r.tid)),
            'html', r.html)),
          r -> r.tid >= 0)
        """
    )
    deep_rows = folded.select(
        F.col(id_col), F.explode(renumbered).alias("__e")
    ).select(
        F.col(id_col),
        F.col("__e.tid").cast("int").alias("table_index"),
        F.col("__e.ridx").alias("row_index"),
        F.col("__e.html").alias("__r"),
    )

    per_row = flat_rows.unionByName(deep_rows)

    def _clean(c):
        t = F.regexp_replace(c, r"(?s)<[^>]+>", " ")
        for ent, rep in _HTML_ENTITIES:
            t = F.regexp_replace(t, ent, rep)
        t = F.regexp_replace(t, r"\s+", " ")
        return F.regexp_replace(t, r"^\s+|\s+$", "")

    cells = F.transform(
        F.regexp_extract_all(
            F.col("__r"), F.lit(r"(?is)<t[dh]\b[^>]*>(.*?)</t[dh]\s*>"), 1
        ),
        _clean,
    )
    return per_row.select(
        F.col(id_col),
        "table_index",
        F.col("row_index").cast("int"),
        F.col("__r").rlike(r"(?is)<th\b").alias("is_header"),
        cells.alias("cells"),
        F.size(cells).cast("int").alias("n_cells"),
    )


# --- content-density main-content extraction (r9) ------------------------
#
# The regex chain above keeps EVERY visible character — nav menus,
# footers, cookie banners included. Real crawl pipelines run
# block-level text-density boilerplate removal (jusText, Pomikálek
# 2011; Arc90 Readability): segment the page into blocks at
# block-level tags, score each by text length and LINK DENSITY, keep
# content-dense blocks plus their short neighbors (headings and
# one-liners inside an article survive through context propagation,
# isolated link-heavy strips die). VERDICT r8 "What's missing" #4.
# Parsing uses the stdlib html.parser tokenizer (a real tag stream,
# not regex) inside one Arrow ``mapInPandas`` pass — the same shape
# as the multimodal decoders: per-row Python cost, Arrow both ways,
# no JVM round-trips per tag.

# tags whose entire subtree is invisible
_DENSITY_DROP = frozenset(
    ("script", "style", "noscript", "svg", "iframe", "template", "head")
)
# tags that terminate the current text block
_DENSITY_BLOCK = frozenset(
    (
        "p", "div", "li", "ul", "ol", "dl", "dt", "dd", "h1", "h2", "h3",
        "h4", "h5", "h6", "tr", "table", "thead", "tbody", "section",
        "article", "aside", "header", "footer", "blockquote", "pre", "hr",
        "form", "figure", "figcaption", "nav", "br", "td", "main",
    )
)
_DENSITY_HEADINGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))


def _density_blocks(html: str) -> list[tuple[str, int, int, bool]]:
    """(text, n_chars, n_link_chars, is_heading) per block — the
    segmentation half of jusText: block boundaries at block-level
    tags, link characters counted through nested ``<a>`` spans,
    drop-subtree tags (script/style/head/...) contribute nothing."""
    from html.parser import HTMLParser

    blocks: list[tuple[str, int, int, bool]] = []

    class P(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=True)
            self.buf: list[str] = []
            self.link_chars = 0
            self.a_depth = 0
            self.drop_depth = 0
            self.heading_depth = 0
            self.block_is_heading = False

        def _flush(self):
            text = " ".join("".join(self.buf).split())
            if text:
                blocks.append(
                    (text, len(text), min(self.link_chars, len(text)),
                     self.block_is_heading)
                )
            self.buf, self.link_chars = [], 0
            self.block_is_heading = self.heading_depth > 0

        def handle_starttag(self, tag, attrs):
            if tag in _DENSITY_DROP:
                self.drop_depth += 1
                return
            if self.drop_depth:
                return
            if tag == "a":
                self.a_depth += 1
            if tag in _DENSITY_BLOCK:
                self._flush()
                if tag in _DENSITY_HEADINGS:
                    self.heading_depth += 1
                    self.block_is_heading = True

        def handle_endtag(self, tag):
            if tag in _DENSITY_DROP:
                self.drop_depth = max(0, self.drop_depth - 1)
                return
            if self.drop_depth:
                return
            if tag == "a":
                self.a_depth = max(0, self.a_depth - 1)
            if tag in _DENSITY_BLOCK:
                self._flush()
                if tag in _DENSITY_HEADINGS:
                    self.heading_depth = max(0, self.heading_depth - 1)
                    self.block_is_heading = self.heading_depth > 0

        def handle_data(self, data):
            if self.drop_depth or not data:
                return
            self.buf.append(data)
            if self.a_depth:
                self.link_chars += len(" ".join(data.split()))

    p = P()
    try:
        p.feed(html)
        p.close()
    except Exception:
        # malformed beyond the tokenizer's tolerance: defensive-row
        # contract — what parsed so far still flushes below
        pass
    p._flush()
    return blocks


def density_extract_py(
    html: str | None,
    min_len: int = 60,
    max_link_density: float = 0.2,
    short_keep_window: int = 1,
) -> str | None:
    """Main-content text of one HTML page by block text density —
    the per-row core of :func:`html_extract_density`, exposed for
    tests and driver-side use. Classification (simplified jusText /
    Arc90, language-independent: no stopword list, so the density
    signals are length + link density only):

    - GOOD: ≥ ``min_len`` chars and link density ≤
      ``max_link_density``;
    - BAD: link density > ``max_link_density`` (nav strips, footers,
      tag clouds — whatever their length);
    - SHORT: everything else — kept iff within
      ``short_keep_window`` blocks of a GOOD block (list items and
      one-line paragraphs inside an article), with headings
      additionally kept when a GOOD block follows within the window
      (jusText's heading rule);
    - output: kept blocks joined by paragraph breaks; None for NULL
      input, '' for a page with no content-dense block."""
    if html is None:
        return None
    blocks = _density_blocks(html)
    n = len(blocks)
    good = [
        n_chars >= min_len and link_chars <= max_link_density * n_chars
        for (_, n_chars, link_chars, _h) in blocks
    ]
    bad = [
        link_chars > max_link_density * n_chars
        for (_, n_chars, link_chars, _h) in blocks
    ]
    kept = []
    for i, (text, n_chars, link_chars, is_heading) in enumerate(blocks):
        if good[i]:
            kept.append(text)
            continue
        if bad[i]:
            continue
        lo = max(0, i - short_keep_window)
        hi = min(n, i + short_keep_window + 1)
        near_good = any(good[j] for j in range(lo, hi))
        if is_heading:
            # headings announce what FOLLOWS
            near_good = any(good[j] for j in range(i + 1, hi))
        if near_good:
            kept.append(text)
    return "\n\n".join(kept)


def html_extract_density(
    df,
    html_col: str,
    out_col: str = "text",
    min_len: int = 60,
    max_link_density: float = 0.2,
    short_keep_window: int = 1,
):
    """DataFrame pass applying :func:`density_extract_py` to
    ``html_col`` (schema preserved, ``out_col`` replaced/appended) —
    the content-density alternative to the keep-everything
    :func:`html_extract` regex chain, for boilerplate-heavy crawl
    pages. One Arrow ``mapInPandas`` stage; composes in the crawl
    front door exactly where ``html_extract`` does."""
    from pyspark.sql.types import StringType, StructField, StructType

    in_fields = [f for f in df.schema.fields if f.name != out_col]
    schema = StructType(in_fields + [StructField(out_col, StringType())])
    cols = [f.name for f in in_fields]

    def run(batches):
        for pdf in batches:
            out = pdf[cols].copy()
            out[out_col] = [
                density_extract_py(
                    h, min_len, max_link_density, short_keep_window
                )
                for h in pdf[html_col]
            ]
            yield out

    return df.mapInPandas(run, schema=schema)


# --- URL canonicalization (r8): crawl-frontier hygiene ------------------
#
# The other front-door operation of a crawl pipeline: the same page
# arrives under dozens of URL spellings (tracking params, host case,
# default ports, fragments, param order), and URL-level dedup /
# frontier scheduling needs ONE canonical spelling per resource.
# Everything below is builtin expressions (parse_url + array ops —
# codegen, no UDF, no shuffle).

# query parameters that identify a CLICK, not a resource
TRACKING_PARAMS = [
    "utm_source", "utm_medium", "utm_campaign", "utm_term",
    "utm_content", "utm_id", "gclid", "fbclid", "msclkid", "mc_eid",
    "igshid", "ref_src",
]
_DEFAULT_PORTS = {"http": "80", "https": "443"}


def url_host(url: Column) -> Column:
    """Lowercased host, NULL for unparseable input (try_parse_url
    — ANSI parse_url throws on malformed URLs)."""
    return F.lower(F.try_parse_url(url, F.lit("HOST")))


def canonicalize_url(url: Column, tracking: list[str] | None = None) -> Column:
    """One canonical spelling per resource: scheme and host lowercase
    (paths stay case-sensitive), default ports stripped, fragment
    dropped, tracking parameters removed, surviving query parameters
    SORTED (param order is transport noise), empty path → ``/``.
    NULL when the input has no parseable scheme+host. Compose with
    `dedup.exact_dedup`-style hash grouping for URL-level dedup, or
    group the frontier by :func:`url_host` for per-host politeness."""
    tracked = [t.lower() for t in (tracking or TRACKING_PARAMS)]
    scheme = F.lower(
        F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1)
    )
    host = url_host(url)
    authority = F.try_parse_url(url, F.lit("AUTHORITY"))
    port = F.regexp_extract(authority, r":(\d+)$", 1)
    default_port = F.coalesce(
        *[
            F.when(scheme == s, F.lit(p))
            for s, p in _DEFAULT_PORTS.items()
        ],
        F.lit(""),
    )
    port_part = F.when(
        (port != "") & (port != default_port), F.concat(F.lit(":"), port)
    ).otherwise(F.lit(""))
    path = F.try_parse_url(url, F.lit("PATH"))
    path_part = F.when(
        path.isNull() | (path == ""), F.lit("/")
    ).otherwise(path)
    query = F.try_parse_url(url, F.lit("QUERY"))
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.coalesce(query, F.lit("")), "&"),
                lambda p: (p != "")
                & ~F.lower(F.substring_index(p, "=", 1)).isin(tracked),
            )
        ),
        "&",
    )
    query_part = F.when(kept != "", F.concat(F.lit("?"), kept)).otherwise(
        F.lit("")
    )
    return F.when(
        (scheme != "") & host.isNotNull() & (host != ""),
        F.concat(scheme, F.lit("://"), host, port_part, path_part, query_part),
    )


def compression_ratio(df, text_col: str, id_col: str, level: int = 6):
    """(id, n_bytes, n_compressed, compression_ratio) — the zlib
    compression-ratio quality signal (RedPajama/Dolma-class
    heuristic): machine-generated or highly repetitive text
    compresses far better than natural prose, so a LOW ratio
    (compressed/raw) marks keyword-stuffed, templated or looped
    content that the n-gram repetition signals can miss (their
    windows are bounded; DEFLATE's 32 KB window is not). Ratio is
    rounded to 6dp; empty/NULL text yields NULL ratio (nothing to
    measure, not evidence of repetition).

    One Arrow ``mapInPandas`` pass, stdlib zlib (C-implemented) per
    row — the normalize_unicode shape; deterministic (fixed level,
    no dictionaries), pinned against a Python replay."""
    import zlib

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    id_field = df.schema[id_col]
    schema = StructType(
        [
            StructField(id_col, id_field.dataType),
            StructField("n_bytes", LongType()),
            StructField("n_compressed", LongType()),
            StructField("compression_ratio", DoubleType()),
        ]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if t is None or t == "":
                    rows.append((i, 0, 0, None))
                    continue
                raw = t.encode("utf-8")
                comp = zlib.compress(raw, level)
                rows.append(
                    (i, len(raw), len(comp),
                     round(len(comp) / len(raw), 6))
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "n_bytes", "n_compressed",
                         "compression_ratio"],
            )

    return df.select(id_col, text_col).mapInPandas(run, schema=schema)


def sniff_mime(payload: Column) -> Column:
    """Content type of a binary payload by MAGIC BYTES — the crawl
    routing step that decides whether a fetched body goes to the HTML
    extractor, the multimodal decoders, or the discard pile. Sniffing
    exists because HTTP ``Content-Type`` headers lie at web scale
    (the reason the WHATWG MIME-sniffing spec exists; this is its
    pattern-matching idea reduced to the signatures a training-data
    crawl actually routes on). Detection ladder, first match wins:

    - ``%PDF`` → application/pdf; PNG/JPEG/GIF magics; gzip; ZIP
      (``PK\\x03\\x04`` — also OOXML containers); RIFF→WAVE / AVI /
      WEBP; ISO-BMFF (``ftyp`` at offset 4, any brand) → video/mp4;
      POSIX ustar (offset 257) → application/x-tar;
    - leading ``<!doctype html`` / ``<html`` (case-insensitive,
      whitespace-tolerant) → text/html;
    - else a printability heuristic on the first 64 bytes (latin-1
      view: no NUL, ≤ 10% outside printable-ASCII + whitespace) →
      text/plain;
    - else application/octet-stream. NULL → NULL; empty →
      application/octet-stream.

    Pure codegen (binary-prefix equality + one latin-1 decode + one
    regexp count): fuses into the WARC scan projection, no Python,
    no shuffle."""

    def magic(off: int, sig: bytes):
        return F.substring(payload, off, len(sig)) == F.lit(sig)

    latin = F.decode(F.substring(payload, 1, 64), "ISO-8859-1")
    lower = F.lower(F.ltrim(latin))
    n = F.length(latin)
    n_unprint = F.length(
        F.regexp_replace(latin, r"[\x20-\x7E\t\n\r]", "")
    )
    texty = (n > 0) & (10 * n_unprint <= n) & ~latin.contains("\x00")
    return (
        F.when(payload.isNull(), F.lit(None).cast("string"))
        .when(magic(1, b"%PDF"), F.lit("application/pdf"))
        .when(magic(1, b"\x89PNG\r\n\x1a\n"), F.lit("image/png"))
        .when(magic(1, b"\xff\xd8\xff"), F.lit("image/jpeg"))
        .when(
            magic(1, b"GIF87a") | magic(1, b"GIF89a"), F.lit("image/gif")
        )
        .when(magic(1, b"\x1f\x8b"), F.lit("application/gzip"))
        # the other single-file compression magics (r15): unix
        # compress .Z (the registered 'compress' CE token), xz, bzip2
        # — each takes the same one-hop nested-decode path as gzip
        .when(magic(1, b"\x1f\x9d"), F.lit("application/x-compress"))
        .when(
            magic(1, b"\xfd7zXZ\x00"), F.lit("application/x-xz")
        )
        .when(
            magic(1, b"BZh")
            & F.substring(payload, 4, 1).isin(
                *[bytes([c]) for c in b"123456789"]
            ),
            F.lit("application/x-bzip2"),
        )
        .when(magic(1, b"PK\x03\x04"), F.lit("application/zip"))
        .when(magic(1, b"RIFF") & magic(9, b"WAVE"), F.lit("audio/x-wav"))
        # compressed-audio containers (r14): FLAC magic, OGG capture
        # pattern, MP3 as either a leading ID3v2 tag or the common
        # MPEG-1 Layer III sync bytes (0xFFFB/0xFFFA — bare 0xFFEx is
        # too false-positive-prone for a router)
        .when(magic(1, b"fLaC"), F.lit("audio/flac"))
        .when(magic(1, b"OggS"), F.lit("audio/ogg"))
        .when(
            magic(1, b"ID3") | magic(1, b"\xff\xfb")
            | magic(1, b"\xff\xfa"),
            F.lit("audio/mpeg"),
        )
        .when(magic(1, b"RIFF") & magic(9, b"WEBP"), F.lit("image/webp"))
        # web fonts (r16): sfnt (TTF/OTTO) and the WOFF wrappers —
        # identified and counted at the front door (route stays
        # 'discard': no glyph plane, but the mime is observable)
        .when(
            magic(1, b"\x00\x01\x00\x00") | magic(1, b"true"),
            F.lit("font/ttf"),
        )
        .when(magic(1, b"OTTO"), F.lit("font/otf"))
        .when(magic(1, b"wOFF"), F.lit("font/woff"))
        .when(magic(1, b"wOF2"), F.lit("font/woff2"))
        # ICO/CUR (r16): every crawl fetches /favicon.ico; the
        # 6-byte ICONDIR prefix (reserved 0, type 1/2, count >= 1
        # with a plausible low byte) keeps the NUL-heavy magic from
        # swallowing arbitrary binary
        .when(
            (
                magic(1, b"\x00\x00\x01\x00")
                | magic(1, b"\x00\x00\x02\x00")
            )
            & (F.substring(payload, 5, 1) != F.lit(b"\x00")),
            F.lit("image/vnd.microsoft.icon"),
        )
        .when(
            magic(1, b"II*\x00") | magic(1, b"MM\x00*"),
            F.lit("image/tiff"),
        )
        .when(
            magic(1, b"RIFF") & magic(9, b"AVI "),
            F.lit("video/x-msvideo"),
        )
        # ISO-BMFF: 'ftyp' at byte offset 4. AVIF brands (r14: the
        # modern web image staple is HEIF-wrapped AV1) route to the
        # image plane; every other brand (mp4/mov/3gp variants) goes
        # to the same header-only video plane as before.
        .when(
            magic(5, b"ftyp") & (magic(9, b"avif") | magic(9, b"avis")),
            F.lit("image/avif"),
        )
        # HEIF brands (r16): the iPhone photo default — HEVC inside,
        # so header-walk only, but it must route IMAGE, not video
        .when(
            magic(5, b"ftyp")
            & (
                magic(9, b"heic") | magic(9, b"heix")
                | magic(9, b"heim") | magic(9, b"heis")
                | magic(9, b"mif1") | magic(9, b"msf1")
            ),
            F.lit("image/heif"),
        )
        .when(magic(5, b"ftyp"), F.lit("video/mp4"))
        # JPEG XL (r16): bare codestream or the ISO-BMFF container
        .when(
            magic(1, b"\xff\x0a")
            | magic(1, b"\x00\x00\x00\x0cJXL \x0d\x0a\x87\x0a"),
            F.lit("image/jxl"),
        )
        # POSIX ustar magic at byte offset 257 (r12: WebDataset and
        # archive crawls ship uncompressed tar; GNU tar writes
        # 'ustar ' with a space-terminated version — match the five
        # shared octets)
        .when(magic(258, b"ustar"), F.lit("application/x-tar"))
        .when(
            lower.startswith("<!doctype html") | lower.startswith("<html"),
            F.lit("text/html"),
        )
        # SVG (r15): the web's vector-image staple is TEXT, so it
        # must sniff BEFORE the printability arm — bare <svg or an
        # XML declaration with <svg in the prefix window
        .when(
            lower.startswith("<svg")
            | (lower.startswith("<?xml") & lower.contains("<svg")),
            F.lit("image/svg+xml"),
        )
        # BOM'd text (r12): a UTF-16 page is NUL-riddled and a UTF-8
        # BOM hides the '<html' prefix — without these arms, real
        # non-UTF-8 text silently routes to discard. The UTF-16 html
        # check compares raw NUL-interleaved bytes (no decode — Spark
        # 4's decode throws on malformed input, and a 64-byte slice
        # can split a code unit); charset handling is downstream
        # (detect_charset / the routed decode hop).
        .when(
            (magic(1, b"\xff\xfe") | magic(1, b"\xfe\xff"))
            & _u16_html_prefix(payload),
            F.lit("text/html"),
        )
        .when(
            magic(1, b"\xff\xfe") | magic(1, b"\xfe\xff"),
            F.lit("text/plain"),
        )
        .when(
            magic(1, b"\xef\xbb\xbf"),
            F.when(
                F.lower(
                    F.ltrim(F.decode(F.substring(payload, 4, 64), "ISO-8859-1"))
                ).startswith("<!doctype html")
                | F.lower(
                    F.ltrim(F.decode(F.substring(payload, 4, 64), "ISO-8859-1"))
                ).startswith("<html"),
                F.lit("text/html"),
            ).otherwise(F.lit("text/plain")),
        )
        .when(texty, F.lit("text/plain"))
        .otherwise(F.lit("application/octet-stream"))
    )


def _u16_html_prefix(payload: Column) -> Column:
    """True when the bytes after a UTF-16 BOM spell ``<!doctype
    html`` or ``<html`` (case-insensitive) in the BOM's endianness —
    a raw byte comparison on a latin-1 view (NULs preserved), never
    a UTF-16 decode."""
    checks = []
    for enc, bom in (("utf-16-le", b"\xff\xfe"), ("utf-16-be", b"\xfe\xff")):
        for tag in ("<!doctype html", "<html"):
            want = tag.encode(enc).decode("ISO-8859-1")
            got = F.lower(
                F.decode(
                    F.substring(payload, 3, len(want)), "ISO-8859-1"
                )
            )
            checks.append(
                (F.substring(payload, 1, 2) == F.lit(bom)) & (got == want)
            )
    out = checks[0]
    for c in checks[1:]:
        out = out | c
    return out


_CHARSET_META_RE = (
    r'(?i)<meta[^>]{0,256}?charset\s*=\s*["\']?\s*([A-Za-z0-9._:\-]+)'
)


def detect_charset(payload: Column, html: Column | bool = True) -> Column:
    """Best-effort charset of a text payload, PURE CODEGEN (r12,
    VERDICT r11 next #4 — a latin-1 or UTF-16 page decoded as UTF-8
    extracts mojibake that silently poisons dedup fingerprints):

    - UTF-8 / UTF-16 BOMs (→ ``utf-8`` / ``utf-16``; Python's
      ``utf-16`` codec consumes the BOM and picks the endianness);
    - when ``html`` holds, an HTML ``<meta charset=…>`` /
      ``<meta http-equiv … content="…; charset=…">`` declaration in
      the first KiB (one regexp over a latin-1 view — meta sniffing
      never applies to plain text, where the token could be body
      prose);
    - else ``utf-8`` (the web default).

    The token is advisory: :func:`~openaq_data_pipeline_spark
    .operators.router.decode_routed_text` resolves it through
    Python's codec alias table and falls back to lenient UTF-8 on
    anything unknown — a lying meta tag can produce replacement
    chars, never a stage failure."""
    meta = F.lower(
        F.regexp_extract(
            F.decode(F.substring(payload, 1, 1024), "ISO-8859-1"),
            _CHARSET_META_RE,
            1,
        )
    )
    html_col = F.lit(html) if isinstance(html, bool) else html
    return (
        F.when(payload.isNull(), F.lit(None).cast("string"))
        .when(F.substring(payload, 1, 3) == F.lit(b"\xef\xbb\xbf"), "utf-8")
        .when(
            (F.substring(payload, 1, 2) == F.lit(b"\xff\xfe"))
            | (F.substring(payload, 1, 2) == F.lit(b"\xfe\xff")),
            "utf-16",
        )
        .when(html_col & (meta != ""), meta)
        .otherwise("utf-8")
    )
