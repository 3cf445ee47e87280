"""Vectorized (Arrow-batched) pandas UDF bindings for the extraction layer.

Per the engine contract there is no per-row Python anywhere: every Python
transform is a pandas UDF over Arrow record batches. The heavy ``html``
binary column must be projected away immediately after these run (column
pruning is the single biggest scan win at 100 TB).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from topicrawler_spark.functions.cleaning import CLEANERS
from topicrawler_spark.functions.jsouptext import (
    abbreviated_plaintext,
    extract_text,
    java_trim,
)
from topicrawler_spark.functions.outlinks import extract_outlinks

_OUTLINK_TYPE = ArrayType(
    StructType(
        [StructField("url", StringType()), StructField("hop", StringType())]
    )
)


def _decode(b) -> str:
    if b is None:
        return ""
    if isinstance(b, (bytes, bytearray, memoryview)):
        # the pages table carries UTF-8 re-encoded html (reference decodes the
        # response charset and re-encodes UTF-8 before extraction)
        return bytes(b).decode("utf-8", errors="replace")
    return str(b)


def make_extract_text_udf(cleaner: str = "ext"):
    """html:binary -> extracted text (byte-identical pipeline), as pandas UDF."""
    clean = CLEANERS[cleaner]

    @F.pandas_udf(StringType())
    def extract_text_udf(html: pd.Series) -> pd.Series:
        return html.map(lambda b: extract_text(_decode(b), clean))

    return extract_text_udf


def make_scoring_text_udf(cleaner: str = "ext"):
    """Like extract_text but with the scorer's final trim applied."""
    clean = CLEANERS[cleaner]

    @F.pandas_udf(StringType())
    def scoring_text_udf(html: pd.Series) -> pd.Series:
        return html.map(lambda b: java_trim(extract_text(_decode(b), clean)))

    return scoring_text_udf


@F.pandas_udf(StringType())
def abbreviate_plaintext_udf(text: pd.Series) -> pd.Series:
    """The 50-char ``plain-abbrv`` extra-info column."""
    return text.map(lambda t: abbreviated_plaintext(t or ""))


@F.pandas_udf(_OUTLINK_TYPE)
def extract_outlinks_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    out = []
    for b, base in zip(html, base_url):
        out.append(
            [{"url": u, "hop": h} for u, h in extract_outlinks(_decode(b), base or "")]
        )
    return pd.Series(out)


def _page_frame(html: pd.Series, base_url: pd.Series, clean, tail: str, of_text):
    """The per-page loop both page UDFs share: decode once, extract the
    scoring text and the outlinks, then ``of_text(text)`` fills the UDF's
    own ``tail`` column (a perplexity or the gated n-grams)."""
    texts, links, tails = [], [], []
    for b, base in zip(html, base_url):
        h = _decode(b)
        t = java_trim(extract_text(h, clean))
        texts.append(t)
        links.append(
            [{"url": u, "hop": hp} for u, hp in extract_outlinks(h, base or "")]
        )
        tails.append(of_text(t))
    return pd.DataFrame({"text": texts, "outlinks": links, tail: tails})


def make_page_process_udf(scorer_broadcast, cleaner: str = "ext"):
    """html -> (text, outlinks, perp) in ONE Arrow pass.

    The crawl hot path previously chained two pandas UDFs (extract, then
    perplexity over the extracted text), which ships the text
    JVM->Python->JVM->Python — an extra serialization round and an extra
    ArrowEvalPython stage per page. Fusing them halves the Python traffic:
    html crosses once, (text, outlinks, perp) come back once."""
    clean = CLEANERS[cleaner]

    _PAGE_TYPE = StructType(
        [
            StructField("text", StringType()),
            StructField("outlinks", _OUTLINK_TYPE),
            StructField("perp", DoubleType()),
        ]
    )

    @F.pandas_udf(_PAGE_TYPE)
    def page_process(html: pd.Series, base_url: pd.Series) -> pd.DataFrame:
        scorer = scorer_broadcast.value
        return _page_frame(html, base_url, clean, "perp", scorer.score_page_text)

    return page_process


def make_page_ngrams_udf(
    order: int,
    min_sentence_words: int = 2,
    language_code: str = "default",
    cleaner: str = "ext",
):
    """html -> (text, outlinks, ngrams) in ONE Arrow pass — the join-scoring
    twin of ``make_page_process_udf``: instead of scoring against a
    broadcast LM, it emits the page's GATED n-grams (the crawler scorer's
    sentence gates applied: a sentence contributes only if it produced >=1
    n-gram and its last n-gram has full LM order —
    DecesiveValueProducerPerplexity.computePerplexity) for relational
    scoring against a corpus-scale count table. Ships no LM tables at all:
    the executor side is pure segmentation."""
    from topicrawler_spark.lm.ngrams import provider_ngrams
    from topicrawler_spark.seg.sentences import SentenceMaker

    clean = CLEANERS[cleaner]

    _PAGE_NG_TYPE = StructType(
        [
            StructField("text", StringType()),
            StructField("outlinks", _OUTLINK_TYPE),
            StructField("ngrams", ArrayType(StringType())),
        ]
    )

    @F.pandas_udf(_PAGE_NG_TYPE)
    def page_ngrams(html: pd.Series, base_url: pd.Series) -> pd.DataFrame:
        sm = SentenceMaker(min_sentence_words, language_code)

        def gated(t: str) -> list[str]:
            gs: list[str] = []
            for sentence in sm.sentences(t):
                ng = provider_ngrams(sentence, order, language_code)
                if len(ng) < 1 or len(ng[-1]) < order:
                    continue  # the reference's zero-contribution gate
                gs.extend(" ".join(g) for g in ng)
            return gs

        return _page_frame(html, base_url, clean, "ngrams", gated)

    return page_ngrams


def make_perplexity_udf(scorer_broadcast):
    """text -> perplexity via a broadcast ``DocumentScorer``.

    ``scorer_broadcast`` is a ``pyspark.Broadcast[DocumentScorer]`` — the LM
    tables deserialize once per executor, scoring is pure dict lookups.
    """

    @F.pandas_udf(DoubleType())
    def perplexity_udf(text: pd.Series) -> pd.Series:
        scorer = scorer_broadcast.value
        return text.map(lambda t: scorer.score_page_text(t if t is not None else ""))

    return perplexity_udf


def make_sentences_udf(min_length: int = 2, language_code: str = "default"):
    """text -> array of writer-style sentences (SentenceWriter records)."""
    from topicrawler_spark.seg.sentences import SentenceMaker

    @F.pandas_udf(ArrayType(StringType()))
    def sentences_udf(text: pd.Series) -> pd.Series:
        sm = SentenceMaker(min_length, language_code)
        return text.map(lambda t: sm.sentences(t or ""))

    return sentences_udf


def make_lm_tokens_udf(language_code: str = "default", insert_tags: int = 3):
    """text -> array of per-sentence token arrays (LM provider tokenization).

    Used by the distributed counting job; returns array<array<string>>.
    """
    from topicrawler_spark.lm.ngrams import provider_tokenize
    from topicrawler_spark.seg.sentences import provider_sentences

    @F.pandas_udf(ArrayType(ArrayType(StringType())))
    def lm_tokens_udf(text: pd.Series) -> pd.Series:
        def go(t):
            out = []
            for s in provider_sentences(t or "", language_code):
                toks = provider_tokenize(s, insert_tags)
                if toks:
                    out.append(toks)
            return out

        return text.map(go)

    return lm_tokens_udf
