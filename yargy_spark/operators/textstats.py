"""Text analysis operators: language id, quality scoring, token
counting, document fingerprinting.

All JVM-side expressions (regexp/split/aggregate — no Python UDFs).
Every ratio is emitted as floor(x * 10000) so cross-engine oracles
hash-match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import md5_int, word_shingles

# minimal multi-language stopword probe sets (heuristic langid + the
# stopword-ratio quality feature)
EN_STOP = ['the', 'a', 'of', 'and', 'to', 'in', 'is', 'on', 'for']

# portable "BPE-ish" token pattern: letter runs (Latin AND Cyrillic —
# a Latin-only run class would count one token per character on the
# project's primary Russian corpus), digit runs, single non-alnum
# non-whitespace marks
TOKEN_PATTERN = '[a-zа-яё]+|[0-9]+|[^a-zа-яё0-9\\s]'


def lang_id(docs: DataFrame) -> DataFrame:
    """Character-range n-gram heuristic language id: script detection
    first (cyrillic / CJK / arabic), then an English stopword-density
    test within latin script.  (doc_id, detected_lang)."""
    text = F.lower(F.col('text'))
    n_chars = F.greatest(F.length('text'), F.lit(1))
    cyr = F.length(F.regexp_replace(text, '[^а-яё]', ''))
    cjk = F.length(F.regexp_replace(F.col('text'), r'[^一-鿿]', ''))
    # split on non-letter runs: 'the\ncat' and 'the,cat' both
    # surface their stopwords (a literal-space split misses them)
    words = F.split(text, '[^a-z]+')
    stop_hits = F.size(F.array_intersect(
        words, F.array(*[F.lit(w) for w in EN_STOP])))
    detected = (
        F.when(F.lit(10000) * cyr / n_chars > 300, 'ru')
        .when(F.lit(10000) * cjk / n_chars > 300, 'zh')
        .when(stop_hits >= 1, 'en')
        .otherwise('und'))
    return docs.select('doc_id', detected.alias('detected_lang'))


def _quality_features() -> dict:
    """The Gopher quality feature Columns over ``col('text')`` —
    shared by ``quality_scores`` and ``filter_corpus`` so the two can
    never score differently."""
    text = F.lower(F.col('text'))
    # ANY whitespace separates words: a literal-space split would
    # collapse newline/tab-separated documents to n_words=1 and
    # auto-drop perfectly fine line-wrapped text
    words = F.split(F.trim(text), r'\s+')
    n_words = F.size(words)
    n_chars = F.length('text')
    # Unicode letter/digit classes: [a-z0-9] would score every
    # Cyrillic (or any non-Latin) document as ~100% punctuation and
    # auto-drop it — fatal for the project's primary Russian corpus;
    # \s in the keep-class so line breaks are not "punctuation"
    punct = F.length(F.regexp_replace(text, r'[\p{L}\p{N}\s]', ''))
    alpha_len = F.length(F.regexp_replace(text, r'[^\p{L}\p{N}]', ''))
    mean_wl = F.floor(F.lit(100.0) * alpha_len
                      / F.greatest(n_words, F.lit(1)))
    stop_hits = F.aggregate(
        F.transform(words, lambda w: F.when(
            w.isin(EN_STOP), 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v)
    stop_ratio = F.floor(F.lit(10000.0) * stop_hits
                         / F.greatest(n_words, F.lit(1)))
    punct_ratio = F.floor(F.lit(10000.0) * punct
                          / F.greatest(n_chars, F.lit(1)))
    return {'n_chars': n_chars, 'n_words': n_words,
            'mean_wl': mean_wl, 'punct_ratio': punct_ratio,
            'stop_ratio': stop_ratio}


def _quality_keep(f: dict):
    """keep/drop Column from the shared feature dict.
    when/otherwise(0), not a bare boolean cast: null text must
    yield keep=0 like the oracle's CASE ... ELSE 0, never NULL."""
    return F.when((f['n_words'] >= 10) & (f['n_chars'] >= 50)
                  & (f['mean_wl'] >= 200) & (f['mean_wl'] <= 1000)
                  & (f['punct_ratio'] <= 2000),
                  F.lit(1)).otherwise(F.lit(0))


def quality_scores(docs: DataFrame) -> DataFrame:
    """Gopher-style quality features + keep/drop flag:
    (doc_id, n_chars_txt, n_words, mean_word_len_x100,
     punct_ratio_x10000, stop_ratio_x10000, keep)."""
    f = _quality_features()
    return docs.select(
        'doc_id',
        f['n_chars'].alias('n_chars_txt'),
        f['n_words'].alias('n_words'),
        f['mean_wl'].cast('long').alias('mean_word_len_x100'),
        f['punct_ratio'].cast('long').alias('punct_ratio_x10000'),
        f['stop_ratio'].cast('long').alias('stop_ratio_x10000'),
        _quality_keep(f).alias('keep'))


def ws_token_count():
    """Whitespace token count of ``col('text')``.  split('') yields
    [''] (size 1): empty/whitespace-only docs must count 0 tokens,
    not 1.  DuckDB replay: ``CASE WHEN length(trim(lower(text))) = 0
    THEN 0 ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+'))
    END``."""
    text = F.lower(F.col('text'))
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)) \
        .otherwise(F.size(F.split(F.trim(text), r'\s+')))


def re_token_count():
    """Regex (BPE-ish) token count of ``col('text')``: letter runs,
    digit runs and single punctuation marks each count one token,
    which tracks BPE token mass far closer than whitespace on
    CJK-free text.  DuckDB replay:
    ``len(regexp_extract_all(lower(text), TOKEN_PATTERN))`` (the
    pattern is the shared RE2/Java-portable TOKEN_PATTERN)."""
    text = F.lower(F.col('text'))
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_PATTERN),
                                       F.lit(0)))


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count + regex (BPE-ish) token count."""
    return docs.select('doc_id', ws_token_count().alias('ws_tokens'),
                       re_token_count().alias('re_tokens'))


def _repetition_cols() -> dict:
    """The repetition feature Columns over ``col('text')`` — shared
    by ``repetition_scores`` and ``filter_corpus``."""
    text = F.coalesce(F.col('text'), F.lit(''))

    # --- duplicate non-empty lines (trim-normalized) ---
    lines = F.filter(
        F.transform(F.split(text, '\n'), lambda x: F.trim(x)),
        lambda x: F.length(x) > 0)
    n_lines = F.size(lines)
    tot_chars = F.aggregate(
        lines, F.lit(0).cast('long'), lambda acc, x: acc + F.length(x))
    zero = F.struct(
        F.lit('').alias('prev'), F.lit(0).cast('long').alias('run'),
        F.lit(0).cast('long').alias('dup'),
        F.lit(0).cast('long').alias('dupch'))

    def line_step(acc, x):
        # run-length scan over the sorted lines: each repeat beyond a
        # run's first element counts once; a run's chars enter dupch
        # in full (2*len when the run becomes a duplicate, then len)
        same = acc['prev'] == x
        run = F.when(same, acc['run'] + 1).otherwise(
            F.lit(1).cast('long'))
        dup = F.when(same, acc['dup'] + 1).otherwise(acc['dup'])
        dupch = (F.when(same & (acc['run'] == 1),
                        acc['dupch'] + 2 * F.length(x))
                 .when(same, acc['dupch'] + F.length(x))
                 .otherwise(acc['dupch']))
        return F.struct(x.alias('prev'), run.alias('run'),
                        dup.alias('dup'), dupch.alias('dupch'))

    lstat = F.aggregate(F.array_sort(lines), zero, line_step)
    dup_line = F.when(n_lines > 0, F.floor(
        F.lit(10000.0) * lstat['dup'] / n_lines)).otherwise(F.lit(0))
    dup_char = F.when(n_lines > 0, F.floor(
        F.lit(10000.0) * lstat['dupch'] / tot_chars)).otherwise(
        F.lit(0))

    # --- most frequent word 2-gram's character share ---
    words = F.split(F.trim(F.lower(text)), r'\s+')
    tail = F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0)))
    # zip_with pads the shorter side with NULL and concat propagates
    # it, so the trailing word's half-gram filters out cleanly
    grams = F.filter(
        F.zip_with(words, tail,
                   lambda a, b: F.concat(a, F.lit(' '), b)),
        lambda g: g.isNotNull())
    gzero = F.struct(
        F.lit('').alias('prev'), F.lit(0).cast('long').alias('run'),
        F.lit(0).cast('long').alias('best'), F.lit('').alias('bestg'))

    def gram_step(acc, x):
        # strict '>' keeps the FIRST maximal run of the ascending
        # sort = the lexicographically smallest gram among count ties
        # (mirrors the oracle's ORDER BY c DESC, g ASC)
        run = F.when(acc['prev'] == x, acc['run'] + 1).otherwise(
            F.lit(1).cast('long'))
        better = run > acc['best']
        return F.struct(
            x.alias('prev'), run.alias('run'),
            F.when(better, run).otherwise(acc['best']).alias('best'),
            F.when(better, x).otherwise(acc['bestg']).alias('bestg'))

    g = F.aggregate(F.array_sort(grams), gzero, gram_step)
    norm_len = F.length(F.array_join(words, ' '))
    top_gram = F.when(F.size(grams) > 0, F.floor(
        F.lit(10000.0) * g['best'] * F.length(g['bestg']) / norm_len
    )).otherwise(F.lit(0))

    return {'dup_line': dup_line.cast('long'),
            'dup_char': dup_char.cast('long'),
            'top_gram': top_gram.cast('long'),
            'n_words': F.size(words)}


def _repetitive_flag(c: dict):
    """Drop flag from the shared repetition dict.  Only judges docs
    of >= 20 words: a 4-gram document trivially gives its top 2-gram
    a >20% character share, and Gopher applies the repetition filters
    jointly with length gates."""
    return F.when(
        (c['n_words'] >= 20)
        & ((c['dup_line'] > 3000) | (c['dup_char'] > 3000)
           | (c['top_gram'] > 2000)),
        F.lit(1)).otherwise(F.lit(0)).cast('int')


def repetition_scores(docs: DataFrame) -> DataFrame:
    """Gopher-style intra-document repetition filters (Rae et al.
    2021, "Scaling Language Models", appendix A1.1 — the repetitious-
    text heuristics): duplicate-line fraction, duplicate-line
    CHARACTER fraction, and the character share of the most frequent
    word 2-gram, plus a ``repetitive`` drop flag.

    Scale shape: everything is computed IN-ARRAY per document
    (``array_sort`` + one ``aggregate`` run-length pass — O(L log L)
    per doc), so the operator is a map-only projection in whole-stage
    codegen: no explode, no shuffle, nothing leaves the row.  The
    DuckDB oracle replays the same math through the orthodox
    unnest -> GROUP BY -> window formulation.

    (doc_id, dup_line_ratio_x10000, dup_line_char_ratio_x10000,
     top_2gram_char_ratio_x10000, repetitive).  The 2-gram share
    counts every (overlapping) occurrence, so a degenerate
    one-token-repeated doc can exceed 10000 — a score, not a
    probability, exactly as in the reference heuristic."""
    c = _repetition_cols()
    return docs.select(
        'doc_id',
        c['dup_line'].alias('dup_line_ratio_x10000'),
        c['dup_char'].alias('dup_line_char_ratio_x10000'),
        c['top_gram'].alias('top_2gram_char_ratio_x10000'),
        _repetitive_flag(c).alias('repetitive'))


# PII patterns kept to portable constructs (no lookarounds, no
# backreferences, no word-boundary classes) so the Java-regex engine
# (Spark) and RE2 (DuckDB) produce identical matches.  Alternation
# parity rests on three facts, in order of strength: (1) the TWO
# PASSES are start-disjoint — anchored matches begin with '+'/'(',
# grouped matches begin with a digit — so pass order alone decides
# overlaps between them; (2) DuckDB builds RE2 with longest_match
# OFF, i.e. BOTH engines use Perl-style leftmost-first alternation
# (the round-3 'RE2 is leftmost-longest' note was wrong — kept
# working only because it never mattered); (3) within
# PHONE_GROUPED_PATTERN alternatives CAN overlap at one position
# ('123-456-7890-12' matches the hyphen-grouped shape fully and the
# NANP shape as a prefix) — leftmost-first order with the longest
# shape FIRST decides, and a crafted oracle row pins exactly that
# case under the value hash.
EMAIL_PATTERN = r'[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'

# Phone redaction is deliberately anchor-driven so formatted numbers
# survive a corpus scrub (round-3 VERDICT #3: the old pattern treated
# bare spaces as phone separators and ate '1 500 000'-style money and
# space-grouped IDs).  A space counts as a phone separator ONLY when
# the number is anchored by a leading '+' or an area-code parenthesis
# — shapes money never takes.
PHONE_ANCHORED_PATTERN = (
    r'\+[0-9][0-9()\- ]{5,}[0-9]'                 # +international
    r'|\([0-9]{3,5}\)[\- ]?[0-9][0-9\- ]{4,}[0-9]')   # (area) local
# Digit-leading phones must be hyphen-grouped (>=4 groups, so ISO
# dates' 3 groups never match), the NANP 3-3-4 shape, or a contiguous
# run of >=9 digits.  Accepted recall tradeoff, documented: a phone
# written with ONLY spaces and no +/( anchor ('8 916 123 45 67') is
# indistinguishable from grouped money and is left alone.
PHONE_GROUPED_PATTERN = (
    r'[0-9]{1,4}(?:-[0-9]{2,4}){3,5}'             # a-bbb-cc-dd(-ee)
    r'|[0-9]{3}-[0-9]{3}-[0-9]{4}'                # NANP 555-123-4567
    r'|[0-9]{9,}')                                # long bare digit run


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII scrubbing for training corpora: redact email addresses and
    phone-number-shaped digit runs, emitting per-document counts and
    the scrubbed text.  Email redaction runs FIRST — an address's
    digits must not be half-eaten by the phone patterns — then the
    anchored phone pass ('+'/parenthesis shapes, which may span
    spaces) BEFORE the grouped pass, so '+7 (495) 123-45-67' redacts
    as one phone rather than the grouped pattern nibbling its tail.
    Each count is taken on the text its replacement sees, so both
    sides of the oracle count the same string.

    Map-only regexp projection in whole-stage codegen: no shuffle,
    no UDF.  (doc_id, n_emails, n_phones, clean_text)."""
    text = F.coalesce(F.col('text'), F.lit(''))
    n_emails = F.size(F.regexp_extract_all(
        text, F.lit(EMAIL_PATTERN), F.lit(0)))
    no_email = F.regexp_replace(text, EMAIL_PATTERN, '<EMAIL>')
    n_anchored = F.size(F.regexp_extract_all(
        no_email, F.lit(PHONE_ANCHORED_PATTERN), F.lit(0)))
    no_anchored = F.regexp_replace(
        no_email, PHONE_ANCHORED_PATTERN, '<PHONE>')
    n_grouped = F.size(F.regexp_extract_all(
        no_anchored, F.lit(PHONE_GROUPED_PATTERN), F.lit(0)))
    clean = F.regexp_replace(
        no_anchored, PHONE_GROUPED_PATTERN, '<PHONE>')
    return docs.select(
        'doc_id',
        n_emails.cast('int').alias('n_emails'),
        (n_anchored + n_grouped).cast('int').alias('n_phones'),
        clean.alias('clean_text'))


def filter_corpus(docs: DataFrame) -> DataFrame:
    """The document filter chain for corpus prep: Gopher quality
    gate -> repetition drop -> PII scrub, composed from the SAME
    shared expressions the standalone operators select
    (`_quality_features`/`_quality_keep`, `_repetition_cols`/
    `_repetitive_flag`, `pii_scrub`) so the composition can never
    apply different thresholds than its stages.

    Scale shape: every stage is per-row, so the whole chain is ONE
    map-only projection — a single codegen stage over the scan with
    zero exchanges (plan-asserted in test_docops).  At 100 TB this is
    the difference between one pass over the corpus and three.
    Returns the ``pii_scrub`` contract over surviving documents."""
    kept = docs.where(
        (_quality_keep(_quality_features()) == 1)
        & (_repetitive_flag(_repetition_cols()) == 0))
    return pii_scrub(kept)


def corpus_vocabulary(df: DataFrame,
                      text_col: str = 'text') -> DataFrame:
    """Distinct lowercased letter-run tokens of a corpus — the
    vocabulary feed for ``Morphology.from_parquet(words=...)``, the
    OpenCorpora-scale day-one dictionary path (BENCH.md
    "Vocabulary-filtered load"): extract the corpus vocabulary once,
    then load only those rows of the 5M-form dictionary.

    Scale shape: one explode + one distinct — the distinct's partial
    aggregation dedups map-side, so the exchange carries at most
    |vocabulary| rows per task, and the output is
    vocabulary-bounded (~10^5-10^6 rows at any corpus size), not
    token-count-bounded.  (word)."""
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit('[а-яёa-z]+'), F.lit(0))
    return (df.select(F.explode(toks).alias('word'))
            .distinct())


def rare_token_scores(docs: DataFrame,
                      rare_df: int = 2) -> DataFrame:
    """Corpus-relative rare-token quality signal: the share of a
    document's whitespace tokens whose corpus DOCUMENT frequency is
    ``<= rare_df`` — high ratios flag OCR garbage, random ids and
    boilerplate-free noise that per-document features
    (``quality_scores``) cannot see, the integer-safe stand-in for a
    CCNet-style LM perplexity filter (no float logprobs, so the
    cross-engine value hash is exact).

    Returns ``(doc_id, n_tokens, n_rare, rare_ratio_x10000)`` for
    every input doc.

    Shape: per-doc DISTINCT tokens dedup map-side (array_distinct
    before the explode, ``word_shingles``'s trick) -> one corpus-wide
    df groupBy (vocabulary-bounded output) -> join the full
    occurrence stream -> per-doc agg; three Exchanges, integers
    only."""
    arr = F.split(F.trim(F.lower(F.col('text'))), r'\s+')
    norm = docs.select(
        'doc_id',
        F.when(F.length(F.trim(F.lower(F.col('text')))) == 0,
               F.array().cast('array<string>'))
        .otherwise(arr).alias('words'))
    occ = norm.select('doc_id', F.explode('words').alias('w'))
    dfreq = (norm
             .select('doc_id',
                     F.explode(F.array_distinct('words')).alias('w'))
             .groupBy('w').agg(F.count('*').alias('df')))
    per_doc = (occ.join(dfreq, 'w')
               .groupBy('doc_id')
               .agg(F.count('*').alias('n_tokens'),
                    F.sum((F.col('df') <= rare_df).cast('long'))
                    .alias('n_rare')))
    return (docs.select('doc_id').join(per_doc, 'doc_id', 'left')
            .select('doc_id',
                    F.coalesce('n_tokens', F.lit(0).cast('long'))
                    .alias('n_tokens'),
                    F.coalesce('n_rare', F.lit(0).cast('long'))
                    .alias('n_rare'))
            .withColumn('rare_ratio_x10000',
                        F.floor(F.lit(10000.0) * F.col('n_rare')
                                / F.greatest(F.col('n_tokens'),
                                             F.lit(1)))
                        .cast('long')))


def doc_fingerprints(docs: DataFrame, n: int = 4,
                     k: int = 3) -> DataFrame:
    """Winnowing-style fingerprint: the ``n`` smallest distinct
    word-shingle hashes per document -> (doc_id, fp_rank, fp_hash)."""
    sh = word_shingles(docs, k).select(
        'doc_id', md5_int(F.col('shingle')).alias('fp_hash')).distinct()
    w = Window.partitionBy('doc_id').orderBy(F.asc('fp_hash'))
    return (sh.withColumn('fp_rank', F.row_number().over(w))
            .where(F.col('fp_rank') <= n)
            .select('doc_id', 'fp_rank', 'fp_hash'))


def top_ngrams(docs: DataFrame, n: int = 2, k: int = 20) -> DataFrame:
    """Corpus-wide top-k word n-grams by document frequency
    (language-model-style corpus statistics).  Deterministic: ties
    break lexicographically.  One shuffle on the n-gram key with
    map-side partial counts; the final top-k is a tiny sort."""
    grams = word_shingles(docs, k=n)          # distinct per doc
    counts = (grams.groupBy('shingle')
              .agg(F.count('*').alias('df')))
    # distributed top-k (TakeOrderedAndProject) FIRST — an
    # unpartitioned row_number window would drag the whole distinct
    # n-gram vocabulary through one task; the rank window then runs
    # over only k rows
    top = counts.orderBy(F.desc('df'), F.asc('shingle')).limit(k)
    w = Window.orderBy(F.desc('df'), F.asc('shingle'))
    return (top.withColumn('rank', F.row_number().over(w))
            .select('rank', F.col('shingle').alias('ngram'), 'df'))
