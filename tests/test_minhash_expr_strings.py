"""The MinHash/LSH builders write their k-wide lists as SQL strings.

``minhash_signatures``, ``band_table`` and ``minhash_estimate`` build
their k-wide expression lists as SQL expression strings instead of one
``Column`` call per index. These tests keep the ``Column``-API
formulation as the reference and assert that both give the same schema
(nullability included) and the same rows, and they bound the number of
py4j round trips the three builders make at k=64.
"""

from __future__ import annotations

import py4j.clientserver
import py4j.protocol
import pytest
from pyspark.sql import functions as F

from b2b_data_pipeline_indiamart_spark.operators import dedup

ID = "listing id"  # not doc_id, and it needs quoting in SQL text


def _ref_signatures(docs, text_col, id_col, k, shingle_n=5):
    exploded = dedup._with_normalized(docs, text_col, id_col).select(
        F.col(id_col),
        F.explode(
            F.transform(dedup.char_shingles(F.col("__norm"), shingle_n), lambda s: F.xxhash64(s))
        ).alias("__h"),
    )
    aggs = [F.min(F.xxhash64(F.lit(i), F.col("__h"))).alias(f"mh_{i}") for i in range(k)]
    return exploded.groupBy(id_col).agg(*aggs)


def _ref_bands(signatures, id_col, k, bands):
    r = k // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(*[F.col(f"mh_{b * r + j}") for j in range(r)]).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return (
        signatures.select(F.col(id_col), F.explode(band_structs).alias("bb"))
        .select(id_col, "bb.band_id", "bb.band_hash")
    )


def _ref_estimate(pairs, signatures, id_col, k):
    agree = sum(
        (F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int") for i in range(k)
    )
    sig_a = signatures.select(
        F.col(id_col).alias("id_a"), *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(k)]
    )
    sig_b = signatures.select(
        F.col(id_col).alias("id_b"), *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(k)]
    )
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select("id_a", "id_b", (agree / F.lit(float(k))).alias("est_jaccard"))
    )


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        "industrial steel pipes supplier in mumbai with iso certification",
        "organic turmeric powder exporter offering bulk packaging options",
        "hydraulic press machine manufacturer for sheet metal forming",
    ]
    texts = [
        None,
        "",
        base[0],
        base[0],  # exact duplicate
        base[0].upper() + "  ",  # exact after normalization
        base[0].replace("mumbai", "pune"),  # near duplicate
        base[1],
        base[1] + " and private labels",  # near duplicate
        base[2],
        "completely unrelated listing about handmade cotton rugs",
    ]
    rows = [(i * 7 + 3, t) for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, f"`{ID}` long, text string")


def _sorted_rows(df):
    return sorted(df.collect(), key=lambda r: tuple((v is None, v) for v in r))


def _assert_same(got, ref):
    assert got.schema.json() == ref.schema.json()
    assert _sorted_rows(got) == _sorted_rows(ref)


@pytest.mark.parametrize("k,bands", [(64, 16), (32, 8)])
def test_string_builders_match_column_reference(spark, docs, k, bands):
    sigs = dedup.minhash_signatures(docs, "text", ID, k=k)
    ref_sigs = _ref_signatures(docs, "text", ID, k)
    _assert_same(sigs, ref_sigs)

    _assert_same(
        dedup.band_table(sigs, id_col=ID, k=k, bands=bands),
        _ref_bands(ref_sigs, ID, k, bands),
    )

    ids = docs.select(F.col(ID).alias("id"))
    pairs = (
        ids.alias("a").crossJoin(ids.alias("b"))
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    est = dedup.minhash_estimate(pairs, sigs, id_col=ID, k=k)
    _assert_same(est, _ref_estimate(pairs, ref_sigs, ID, k))
    # the corpus has exact duplicates, so some estimates are exactly 1
    assert any(r.est_jaccard == 1.0 for r in est.collect())


def test_builders_make_few_py4j_round_trips(spark, docs, monkeypatch):
    calls = 0
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        # py4j defers the release of dropped JVM handles and sends the
        # releases in bursts on some later call, so they are not counted
        nonlocal calls
        calls += not command.startswith(py4j.protocol.MEMORY_COMMAND_NAME)
        return send(self, command)

    sigs = dedup.minhash_signatures(docs, "text", ID, k=64)
    pairs = sigs.select(F.col(ID).alias("id_a"), F.col(ID).alias("id_b"))
    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    sigs = dedup.minhash_signatures(docs, "text", ID, k=64)
    dedup.band_table(sigs, id_col=ID, k=64, bands=16)
    dedup.minhash_estimate(pairs, sigs, id_col=ID, k=64)
    monkeypatch.undo()
    # the Column-API formulation made 11 583 round trips here, this one 766
    assert 0 < calls <= 1000
