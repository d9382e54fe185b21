"""Structured Streaming ingestion: pages stream → mentions stream.

The reference has no streaming (SURVEY §2.10) and the north rule is
batch-oriented (snapshot checkpoint/resume = incremental reads between
snapshots), so this module is the OPTIONAL streaming mode: the
sentence-windowing and tagging stages are stateless per row, so they
lift directly onto ``readStream`` with no state store; the only
stateful piece offered is a watermarked per-window mention count
(late-data-tolerant monitoring aggregate).

Tested with the file source + ``availableNow`` trigger (kafka isn't in
the sandbox; the plan is source-agnostic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.spans import mentions_table
from ..operators.tagger import sentences_table, tag_sentences

PAGES_DDL = ("url string, warc_ts timestamp, html binary, "
             "text string, lang string")


def read_pages_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of pages parquet drops."""
    return spark.readStream.schema(PAGES_DDL).parquet(path)


def mentions_stream(pages: DataFrame, aliases: list[dict]) -> DataFrame:
    """Stateless pages→mentions transformation lifted onto a stream.

    Identical operators to the batch plan — sentences_table and
    tag_sentences are row-local, so the streaming micro-batch plan
    reuses them verbatim.
    """
    sents = sentences_table(pages)
    tagged = tag_sentences(sents, mode="gazetteer", aliases=aliases)
    return mentions_table(tagged)


def triples_stream(pages: DataFrame, aliases: list[dict],
                   predicate_lexicon: dict[str, str],
                   cooccurrence_window: int | None = None) -> DataFrame:
    """Streaming KG construction: the FUSED single-crossing hot path
    (sentence split + gazetteer match + Viterbi + spans + pair gen in one
    mapInArrow) lifted onto the stream, then the broadcast predicate-
    lexicon join — all stateless / broadcast, so the micro-batch plan is
    the batch plan verbatim (stream==batch tested)."""
    from ..operators.tagger import fused_triples, pages_to_mention_pairs

    fused = pages_to_mention_pairs(pages, aliases)
    return fused_triples(fused, predicate_lexicon,
                         cooccurrence_window=cooccurrence_window)


def windowed_mention_counts(
    pages: DataFrame, aliases: list[dict],
    window: str = "1 hour", watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked event-time aggregate: mentions per (window, tag_type).

    Event time (warc_ts) is carried THROUGH the tagging UDF in a single
    stream pass — a stream-stream re-join on url would need watermarks +
    an event-time range condition on both sides and is rejected by the
    engine otherwise. State is bounded by the watermark.
    """
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import (StringType, StructField, StructType,
                                   TimestampType)

    from ..operators.spans import extract_spans
    from ..operators.tagger import (ENTITY_TYPES, _decode_lines, _memoized,
                                    _tagger_payload)

    # the batch path's decode: JVM \s+ tokenization, grammar-checked
    # gazetteer decode, per-task line memo
    bc = pages.sparkSession.sparkContext.broadcast(_tagger_payload(
        "gazetteer", ENTITY_TYPES, aliases, None, None, None, None))
    out_schema = StructType([
        StructField("warc_ts", TimestampType()),
        StructField("tag_type", StringType()),
    ])

    def mention_types(toks, tags):
        return [s["tag_type"] for s in extract_spans(tags)]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        v = bc.value

        def build(lines):
            return _decode_lines(lines, v, mention_types)

        memo: dict[str, list] = {}
        for pdf in batches:
            line_ts, lines = [], []
            for ts, text in zip(pdf["warc_ts"], pdf["text"]):
                page_lines = text.split("\n")
                line_ts += [ts] * len(page_lines)
                lines += page_lines
            ts_out, tt_out = [], []
            for ts, tts in zip(line_ts, _memoized(memo, lines, build)):
                ts_out += [ts] * len(tts)
                tt_out += tts
            yield pd.DataFrame({"warc_ts": ts_out, "tag_type": tt_out})

    mention_events = (
        pages.filter(F.col("lang") == "en")
        .select("warc_ts", "text")
        .mapInPandas(run, out_schema)
        .withWatermark("warc_ts", watermark)
    )
    return (
        mention_events.groupBy(F.window("warc_ts", window), "tag_type")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )


def run_to_sink(
    stream_df: DataFrame, out_path: str, checkpoint: str,
    mode: str = "append",
):
    """availableNow file-sink runner (processes all pending input, stops)."""
    return (
        stream_df.writeStream
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
