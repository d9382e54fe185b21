"""A1-A3 — vocabulary construction as native Spark aggregations.

Reference semantics:
  * frequency dico        — /root/reference/utils.py:44-56
  * min-count-3 + PAD/UNK — /root/reference/loader.py:69-84
    (<PAD> pinned freq 10000001, <UNK> 10000000)
  * rank-by-frequency ids — /root/reference/utils.py:59-67 with the
    deterministic (-freq, token) tie-break at utils.py:64 — the only
    window function shape in the reference, load-bearing for parity.

All JVM-side: explode → groupBy().count() gets partial (map-side)
aggregation from Catalyst for free; the ranking window is a single
global sort over the (small) distinct-token set, not over the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PAD, UNK = "<PAD>", "<UNK>"
PAD_FREQ, UNK_FREQ = 10_000_001, 10_000_000


def token_frequencies(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """A1: corpus-wide token counts → (token, freq)."""
    return (
        df.select(F.explode(tokens_col).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def build_vocab(
    df: DataFrame,
    tokens_col: str = "tokens",
    min_count: int = 3,
    lowercase: bool = True,
    zeros: bool = True,
    add_sentinels: bool = True,
) -> DataFrame:
    """A1+A2+A3 → (token, id, freq) with deterministic ids.

    Word-path normalization per the reference word vocab
    (loader.py:69-84): lowercase (loader.py:135-137) and digit-fold
    (utils.py:70-74) BEFORE counting; ids dense-ranked by
    (freq desc, token asc).
    """
    # count RAW tokens first, then normalize the DISTINCT survivors and
    # re-sum: the lowercase/digit-fold regex then runs once per distinct
    # raw token instead of once per token instance (2.7M instances vs
    # ~1k distincts at sf1.0 — measured 4.3 s → 1.0 s). Counting commutes
    # with the normalization mapping, so (token, freq) is identical.
    freqs = token_frequencies(df, tokens_col)
    norm = F.col("token")
    if lowercase:
        norm = F.lower(norm)
    if zeros:
        norm = F.regexp_replace(norm, "[0-9]", "0")
    if lowercase or zeros:
        freqs = (freqs.select(norm.alias("token"), "freq")
                 .groupBy("token").agg(F.sum("freq").alias("freq")))
    freqs = freqs.filter(F.col("freq") >= min_count)
    if add_sentinels:
        sentinels = freqs.sparkSession.createDataFrame(
            [(PAD, PAD_FREQ), (UNK, UNK_FREQ)], "token string, freq long")
        freqs = freqs.filter(~F.col("token").isin(PAD, UNK)).unionByName(sentinels)
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    return freqs.select("token", (F.row_number().over(w) - 1).alias("id"), "freq")


def char_vocab(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Char-level vocab (loader.py:87-97): chars keep case; OOV chars
    are later DROPPED (loader.py:138), not UNK'd — so no UNK sentinel."""
    # aggregate to (token, freq) FIRST, then explode only the distinct
    # tokens' characters weighted by freq — the per-character explode
    # shrinks from Σ|token| over every instance (~15M rows at sf1.0) to
    # Σ|token| over distinct tokens (~10k rows); char counts are the
    # freq-weighted sums, identical by commutativity (3.5 s → 0.9 s).
    chars = (
        token_frequencies(df, tokens_col)
        .select(F.explode(F.split("token", "")).alias("ch"), "freq")
        .filter(F.col("ch") != "")
        .groupBy("ch").agg(F.sum("freq").alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("ch"))
    return chars.select(
        F.col("ch").alias("token"), (F.row_number().over(w) - 1).alias("id"), "freq")
