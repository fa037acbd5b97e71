"""Stage-timing metrics + simhash operator."""

import random
import string

import pytest
from pyspark.sql import functions as F

from glinerswift_spark.config import DEFAULT_CONFIG
from glinerswift_spark.functions.schema_encoding import EncodingOverflowError
from glinerswift_spark.functions.text import word_spans
from glinerswift_spark.operators.dedup import simhash16, simhash_pairs
from glinerswift_spark.operators.extract import extract_entities
from glinerswift_spark.operators.metrics import STAGES, stage_timing_report
from glinerswift_spark.functions.hashing import words_col
from glinerswift_spark.scoring.backends import (
    FLAGSHIP_LABELS,
    PromptEncodingSpec,
    flagship_gazetteer,
)
from glinerswift_spark.scoring.encoder import FileEncoderProvider, NumpyEncoder
from glinerswift_spark.sources.pages import read_documents


def test_stage_timing_report(spark, sf_dir):
    docs = read_documents(spark, sf_dir).limit(50)
    rep = stage_timing_report(docs, FLAGSHIP_LABELS, flagship_gazetteer(), threshold=0.5)
    rows = {r.stage: r for r in rep.collect()}
    assert set(rows) == set(STAGES)
    assert all(r.seconds >= 0 for r in rows.values())
    assert rows["score"].docs == 50
    assert rows["score"].entities > 0
    # scoring should dominate split/merge for this corpus
    assert rows["score"].seconds > 0


def test_stage_timing_report_times_the_real_extraction_path(spark, tmp_path):
    """The report runs the same extraction as extract_entities, including
    the re-chunking of a document that fits the word budget but overflows
    the encoder's subword window (a private copy of the pipeline without
    that handling raised EncodingOverflowError here)."""
    NumpyEncoder.seeded(dim=16, n_layers=1, vocab=64).save(str(tmp_path))
    spec = PromptEncodingSpec(
        dim=16,
        hidden_states_provider=FileEncoderProvider(weights_dir=str(tmp_path)),
    )
    labels = ["person", "organization"]
    rng = random.Random(0)
    dense = " ".join(
        "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(8, 14)))
        for _ in range(200)
    )
    spans = word_spans(dense)
    assert len(spans) <= DEFAULT_CONFIG.chunk_max_words
    with pytest.raises(EncodingOverflowError):
        spec.build().score_document(dense, spans, labels)

    df = spark.createDataFrame(
        [(0, dense), (1, "john smith works at apple in cupertino"), (2, None)],
        "doc_id long, text string",
    )
    rows = {
        r.stage: r
        for r in stage_timing_report(df, labels, spec, threshold=0.3).collect()
    }
    assert set(rows) == set(STAGES)
    n_entities = extract_entities(df, labels, spec, threshold=0.3).count()
    assert n_entities > 0
    assert {r.entities for r in rows.values()} == {n_entities}
    assert {r.docs for r in rows.values()} == {2}


def test_simhash_identical_and_different(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h", "en"),
            (2, "a b c d e f g h", "en"),       # identical -> hamming 0
            (3, "q r s t u v w x", "en"),       # disjoint vocab
            (4, "a b c d e f g h", "fr"),       # other block: never paired
        ],
        "doc_id long, text string, lang string",
    )
    sh = df.select("doc_id", simhash16(words_col()).alias("sh")).collect()
    vals = {r.doc_id: r.sh for r in sh}
    assert vals[1] == vals[2] and 0 <= vals[1] < (1 << 16)

    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(df, max_hamming=0).collect()}
    assert pairs == {(1, 2): 0}


def test_simhash_banding_equals_bruteforce(spark):
    """End-to-end: the hamming-band candidate join loses NO qualifying
    pair vs brute-force hamming over the same fingerprints."""
    import hashlib
    import itertools
    import random

    from glinerswift_spark.operators.dedup import simhash_pairs

    rng = random.Random(7)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12))), "en")
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {(r.doc_a, r.doc_b, r.hamming)
           for r in simhash_pairs(df, max_hamming=3).collect()}

    def sh16(text):
        words = text.split(" ")
        vals = [int(hashlib.md5(w.encode()).hexdigest()[:4], 16) for w in words]
        out = 0
        for i in range(16):
            ones = sum((v >> (15 - i)) & 1 for v in vals)
            if ones * 2 >= len(vals):
                out |= 1 << i
        return out

    fps = {doc_id: sh16(text) for doc_id, text, _ in rows}
    want = {
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for a, b in itertools.combinations(sorted(fps), 2)
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    assert got == want
