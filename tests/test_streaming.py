"""Structured Streaming: stream output == batch output (availableNow)."""

from ner_pytorch_spark import datagen
from ner_pytorch_spark.operators.spans import mentions_table
from ner_pytorch_spark.operators.tagger import sentences_table, tag_sentences
from ner_pytorch_spark.streaming.pages_stream import (mentions_stream,
                                                      read_pages_stream,
                                                      run_to_sink)


def test_stream_matches_batch(spark, tmp_path):
    pages = datagen.pages_dataframe(spark, 40)
    src = str(tmp_path / "pages_in")
    pages.write.parquet(src)
    aliases = datagen.alias_rows()

    stream = read_pages_stream(spark, src)
    out_path = str(tmp_path / "mentions_out")
    q = run_to_sink(mentions_stream(stream, aliases), out_path,
                    str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.read.parquet(out_path).collect()))
    batch = mentions_table(tag_sentences(
        sentences_table(spark.read.parquet(src)), mode="gazetteer",
        aliases=aliases))
    want = sorted(map(tuple, batch.collect()))
    assert got == want


def test_triples_stream_matches_batch(spark, tmp_path):
    """Streaming KG construction (fused path on readStream + broadcast
    lexicon join) produces exactly the batch triples."""
    from ner_pytorch_spark.operators.tagger import fused_triples, pages_to_mention_pairs
    from ner_pytorch_spark.streaming.pages_stream import triples_stream

    pages = datagen.pages_dataframe(spark, 40)
    src = str(tmp_path / "pages_in")
    pages.write.parquet(src)
    aliases = datagen.alias_rows()
    lex = datagen.PREDICATE_LEXICON

    stream = read_pages_stream(spark, src)
    out_path = str(tmp_path / "triples_out")
    q = run_to_sink(triples_stream(stream, aliases, lex), out_path,
                    str(tmp_path / "ckpt_t"))
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.read.parquet(out_path).collect()))
    batch = fused_triples(
        pages_to_mention_pairs(spark.read.parquet(src), aliases), lex)
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(want) > 0


def test_windowed_mention_counts(spark, tmp_path):
    """Watermarked event-time aggregate runs and matches a batch count."""
    from pyspark.sql import functions as F

    from ner_pytorch_spark.streaming.pages_stream import (
        read_pages_stream, windowed_mention_counts)

    pages = datagen.pages_dataframe(spark, 30)
    src = str(tmp_path / "in")
    pages.write.parquet(src)
    aliases = datagen.alias_rows()

    stream = read_pages_stream(spark, src)
    # complete mode (memory sink): append would rightly hold back the
    # final windows still inside the watermark
    q = (windowed_mention_counts(stream, aliases, window="1 day")
         .writeStream.format("memory").queryName("wmc")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.sql("select sum(n_mentions) from wmc").first()[0]
    batch_mentions = mentions_table(tag_sentences(
        sentences_table(pages), mode="gazetteer", aliases=aliases)).count()
    assert got == batch_mentions


def test_windowed_counts_follow_jvm_whitespace(spark, tmp_path):
    """NBSP and \\x1c are not JVM \\s, so 'Acme\\u00a0Corp' is one token
    and matches no alias: the streaming window counts per tag_type equal
    the fused path's mention counts."""
    import datetime as dt

    from ner_pytorch_spark.operators.tagger import (fused_mentions,
                                                    pages_to_mention_pairs)
    from ner_pytorch_spark.streaming.pages_stream import (
        PAGES_DDL, windowed_mention_counts)

    text = ("Acme\u00a0Corp acquired Initech .\n"
            "Acme\x1cCorp acquired Initech .\n"
            "Acme Corp acquired Initech .\n \t\x0b\n")
    pages = spark.createDataFrame(
        [(f"https://ex.org/{i}", dt.datetime(2024, 1, 1, i), bytearray(b""),
          text, "en") for i in range(3)], PAGES_DDL)
    src = str(tmp_path / "in")
    pages.write.parquet(src)
    aliases = datagen.alias_rows()

    q = (windowed_mention_counts(read_pages_stream(spark, src), aliases,
                                 window="1 day")
         .writeStream.format("memory").queryName("wmc_ws")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {r[0]: r[1] for r in spark.sql(
        "select tag_type, sum(n_mentions) from wmc_ws group by tag_type")
        .collect()}
    want = {r[0]: r[1] for r in fused_mentions(
        pages_to_mention_pairs(pages, aliases))
        .groupBy("tag_type").count().collect()}
    assert got == want and want
