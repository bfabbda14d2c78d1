"""Unit tests for the cleaning library (F1-F11) against literal in/out pairs
matching the reference tool semantics (``preprocessing_agent.py:19-152``)
— validated against Python ``re`` as the reference executable spec."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from cinegraph_spark.functions.text_clean import (
    CLEAN_STEP_ORDER,
    CLEANING_SPECS,
    clean_subtitles,
    cleaning_fn,
)

#: python reference implementations, transcribed from SURVEY §2.3 semantics.
def _py_clean(name: str, text: str) -> str:
    if name == "remove_timestamps":
        text = re.sub(r"\d{2}:\d{2}:\d{2}[.,]\d{3}\s*-->\s*\d{2}:\d{2}:\d{2}[.,]\d{3}", "", text)
        text = re.sub(r"^\s*\d+\s*$", "", text, flags=re.MULTILINE)
        text = re.sub(r"WEBVTT.*\n?", "", text)
        return text.strip()
    if name == "remove_brackets_content":
        text = re.sub(r"\[.*?\]", "", text)
        text = re.sub(r"\(.*?\)", "", text)
        text = re.sub(r"\{.*?\}", "", text)
        return text.strip()
    if name == "remove_html_tags":
        return re.sub(r"<[^>]+>", "", text).strip()
    if name == "remove_speaker_labels":
        text = re.sub(r"^[A-Z][A-Z\s]{1,20}:\s*", "", text, flags=re.MULTILINE)
        text = re.sub(r"^\w[\w\s]{1,20}:\s*", "", text, flags=re.MULTILINE)
        text = re.sub(r"<v\s+[^>]+>", "", text)
        return text.strip()
    if name == "remove_dialog_punctuation":
        text = re.sub(r"^\s*-+\s*", "", text, flags=re.MULTILINE)
        text = re.sub(r"\.{2,}", "", text)
        text = re.sub(r"-{2,}", "", text)
        text = re.sub("[\"“”'‘’]+", "", text)
        text = re.sub(r"[!?,;:]+", "", text)
        return text.strip()
    if name == "remove_newlines":
        text = text.replace("\n", " ").replace("\r", " ")
        return re.sub(r" +", " ", text).strip()
    if name == "remove_non_alphabetic":
        return re.sub(r"[^a-zA-Z\s]", "", text).strip()
    if name == "remove_filler_words":
        fillers = r"\b(um+|uh+|hmm+|hm+|ah+|oh+|er+|erm+|gonna|wanna|gotta|kinda|sorta|like|okay|ok|yeah|yep|nope)\b"
        text = re.sub(fillers, "", text, flags=re.IGNORECASE)
        return re.sub(r" +", " ", text).strip()
    if name == "lowercase_text":
        return text.lower()
    if name == "normalize_whitespace":
        lines = text.split("\n")
        lines = [re.sub(r" +", " ", line).strip() for line in lines]
        return " ".join(line for line in lines if line)
    if name == "clean_titles":
        return text.encode("ascii", "ignore").decode()
    raise ValueError(name)


SAMPLE = (
    "WEBVTT\n\n1\n00:01:23,456 --> 00:01:25,789\n"
    "JOHN: [applause] <i>Well</i>, um... hello there!\n"
    "2\n00:01:26,000 --> 00:01:28,000\n"
    "- Mary: I'm gonna go. (laughs) {music}\n"
    "<v Bob>It’s “fine” -- really...\n   3   \n"
    "CAPTAIN AHAB:    so   many     spaces\nnon-ascii: café naïve\n"
)

EXTRA_CASES = [
    "",
    "plain text no artifacts",
    "multi\n\n\nblank\n\nlines",
    "12:34:56,789 not a full timestamp",
    "[unclosed bracket (nested [inner]) done",
    "UM, uh... OKAY yeah!",
]


@pytest.mark.parametrize("fname", sorted(CLEANING_SPECS))
def test_single_fn_matches_python_reference(spark, fname):
    texts = [SAMPLE] + EXTRA_CASES
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, t string")
    got = {
        r["id"]: r["out"]
        for r in df.select("id", cleaning_fn(fname)(F.col("t")).alias("out")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_clean(fname, t), f"{fname} on case {i}: {t!r}"


def test_full_chain_matches_python_reference(spark):
    texts = [SAMPLE] + EXTRA_CASES
    expected = []
    for t in texts:
        for step in CLEAN_STEP_ORDER:
            t = _py_clean(step, t)
        expected.append(t)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate([SAMPLE] + EXTRA_CASES)], "id int, t string"
    )
    got = {
        r["id"]: r["out"]
        for r in df.select("id", clean_subtitles(F.col("t")).alias("out")).collect()
    }
    for i, e in enumerate(expected):
        assert got[i] == e, f"chain on case {i}"


def test_position_tag_before_speaker_label_spark_matches_duckdb(spark, duck):
    """``{\\an8} JOHN: …``: removing the tag leaves a space before the label,
    which the label patterns accept (a deliberate deviation from the
    reference's ``^``-anchored chain). Spark and DuckDB share the spec."""
    from cinegraph_spark.functions.text_clean import clean_subtitles_sql

    text = "1\n00:00:01,000 --> 00:00:02,000\n{\\an8} JOHN: we go now.\n\t{\\an8} Mary Ann: fine.\n"
    df = spark.createDataFrame([(text,)], "t string")
    got = df.select(clean_subtitles(F.col("t")).alias("out")).first()["out"]
    want = duck.execute(f"SELECT {clean_subtitles_sql('t')} FROM (SELECT ? AS t)", [text]).fetchone()[0]
    assert got == want == "we go now fine"
