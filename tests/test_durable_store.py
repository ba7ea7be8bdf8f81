"""Durable MinHash store (VERDICT r5 #1): built once, read back by a
FRESH SparkSession (a separate OS process / Spark application) with
zero recomputation, rebuilt when the corpus changes."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

from tests.conftest import REPO, SF_DIR

from aws_payment_data_lake_spark.queries.dedup import (
    durable_base_tables,
    durable_pairs_tables,
)
from aws_payment_data_lake_spark.sources import load
from aws_payment_data_lake_spark.sources.store import (
    BUILD_EVENTS,
    corpus_fingerprint,
)

# Runs in a fresh interpreter: its own SparkSession (new application),
# its own sources.store module, so BUILD_EVENTS starts empty — any
# build it performs is real recomputation and fails the zero-rebuild
# assertion in the parent.
_PROBE = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from aws_payment_data_lake_spark.session import get_spark
from aws_payment_data_lake_spark.queries.dedup import durable_pairs_tables
from aws_payment_data_lake_spark.sources.store import BUILD_EVENTS

spark = get_spark(app_name="store-probe", master="local[4]",
                  shuffle_partitions=4)
(cands, verified, comp), built = durable_pairs_tables(
    spark, sys.argv[2], sys.argv[3])
rows = sorted((r["doc_a"], r["doc_b"], r["jaccard"])
              for r in verified.collect())
comp_rows = sorted((r["doc_id"], r["canonical_doc_id"], r["group_size"])
                   for r in comp.collect())
print("PROBE:" + json.dumps({
    "built": built, "n_build_events": len(BUILD_EVENTS),
    "verified": rows, "comp": comp_rows}))
spark.stop()
"""


def _probe(warehouse: str, sf_dir: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, REPO, sf_dir, warehouse],
        capture_output=True, text=True, timeout=600, cwd=REPO)
    assert out.returncode == 0, out.stderr[-3000:]
    line = [ln for ln in out.stdout.splitlines()
            if ln.startswith("PROBE:")][-1]
    return json.loads(line[len("PROBE:"):])


def test_fresh_session_reads_without_rebuild(spark, tmp_path):
    wh = str(tmp_path / "wh")

    (cands, verified, comp), built = durable_pairs_tables(spark, SF_DIR, wh)
    assert built
    mine = sorted((r["doc_a"], r["doc_b"], r["jaccard"])
                  for r in verified.collect())
    my_comp = sorted((r["doc_id"], r["canonical_doc_id"], r["group_size"])
                     for r in comp.collect())
    assert mine and my_comp  # real data at this SF

    # same session, second consumer: store hit, no new build
    n_events = len(BUILD_EVENTS)
    _, built2 = durable_pairs_tables(spark, SF_DIR, wh)
    assert not built2 and len(BUILD_EVENTS) == n_events

    # FRESH Spark application: identical output, zero builds
    res = _probe(wh, SF_DIR)
    assert res["built"] is False
    assert res["n_build_events"] == 0
    assert [tuple(r) for r in res["verified"]] == mine
    assert [tuple(r) for r in res["comp"]] == my_comp


def test_rebuild_on_corpus_change(spark, tmp_path):
    wh = str(tmp_path / "wh2")
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (docs,) = load(spark, SF_DIR, "documents")
    docs.coalesce(1).write.parquet(str(corpus / "documents.parquet"))

    _, built = durable_pairs_tables(spark, str(corpus), wh)
    assert built
    _, built2 = durable_pairs_tables(spark, str(corpus), wh)
    assert not built2

    # roll the corpus: append one doc -> fingerprint flips -> rebuild
    import pyspark.sql.functions as F
    extra = docs.limit(1).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        *[c for c in docs.columns if c != "doc_id"])
    rolled = docs.unionByName(extra.select(docs.columns))
    rolled = rolled.localCheckpoint(eager=True)  # detach from the zone
    import shutil
    shutil.rmtree(corpus / "documents.parquet")
    rolled.coalesce(1).write.parquet(str(corpus / "documents.parquet"))

    _, built3 = durable_base_tables(spark, str(corpus), wh)
    assert built3


def test_fingerprint_is_content_defined(spark):
    (docs,) = load(spark, SF_DIR, "documents")
    a = corpus_fingerprint(docs, "doc_id", "text")
    b = corpus_fingerprint(docs.orderBy("source"), "doc_id", "text")
    assert a == b  # order-independent
    import pyspark.sql.functions as F
    edited = docs.withColumn(
        "text", F.when(F.col("doc_id") == 0,
                       F.concat(F.col("text"), F.lit(" tampered")))
        .otherwise(F.col("text")))
    assert corpus_fingerprint(edited, "doc_id", "text") != a
    assert corpus_fingerprint(docs.limit(10), "doc_id", "text") != a


def test_durable_ivf_index(spark, tmp_path):
    """Same warehouse contract for the ANN family (cross-process proof
    lives in test_fresh_session_reads_without_rebuild; this one covers
    hit/rebuild and output identity within the session)."""
    from aws_payment_data_lake_spark.operators import similarity as S
    from aws_payment_data_lake_spark.queries.similarity import (
        durable_ivf_index,
    )

    wh = str(tmp_path / "whivf")
    (cents, assigned), built = durable_ivf_index(spark, SF_DIR, wh)
    assert built
    (c2, a2), built2 = durable_ivf_index(spark, SF_DIR, wh)
    assert not built2
    # the stored index serves probes identically to a fresh build
    (emb,) = load(spark, SF_DIR, "embeddings")
    fresh_c, fresh_a = S.build_ivf_index(emb)
    q = (emb.where("vec_id < 5")
         .selectExpr("vec_id AS query_id", "embedding AS qe"))
    got = sorted(map(tuple, S.ivf_probe_topk(c2, a2, q).collect()))
    want = sorted(map(tuple, S.ivf_probe_topk(fresh_c, fresh_a, q)
                      .collect()))
    assert got == want and got


_CHUNK_PROBE = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from aws_payment_data_lake_spark.session import get_spark
from aws_payment_data_lake_spark.queries.rag import durable_chunk_index
from aws_payment_data_lake_spark.operators import similarity as S
from aws_payment_data_lake_spark.sources.store import BUILD_EVENTS

spark = get_spark(app_name="chunk-store-probe", master="local[4]",
                  shuffle_partitions=4)
(emb, cents, assigned), built = durable_chunk_index(
    spark, sys.argv[2], sys.argv[3])
q = (emb.where("vec_id % 1000 = 0 AND vec_id < 5000")
     .selectExpr("-vec_id - 1 AS query_id", "embedding AS qe"))
rows = sorted((r["query_id"], r["neighbor_id"], r["rk"])
              for r in S.ivf_probe_topk(cents, assigned, q).collect())
print("PROBE:" + json.dumps({
    "built": built, "n_build_events": len(BUILD_EVENTS), "rows": rows}))
spark.stop()
"""


def test_durable_chunk_index_fresh_session(spark, tmp_path):
    """Warehouse contract for the RAG chunk index (VERDICT r6 #7): a
    fresh Spark application with an unchanged corpus reads the stored
    (emb, cents, assigned) back with ZERO recomputation and serves
    identical retrievals."""
    from aws_payment_data_lake_spark.operators import similarity as S
    from aws_payment_data_lake_spark.queries.rag import durable_chunk_index

    wh = str(tmp_path / "whchunk")
    (emb, cents, assigned), built = durable_chunk_index(spark, SF_DIR, wh)
    assert built
    _, built2 = durable_chunk_index(spark, SF_DIR, wh)
    assert not built2

    q = (emb.where("vec_id % 1000 = 0 AND vec_id < 5000")
         .selectExpr("-vec_id - 1 AS query_id", "embedding AS qe"))
    mine = sorted((r["query_id"], r["neighbor_id"], r["rk"])
                  for r in S.ivf_probe_topk(cents, assigned, q).collect())
    assert mine

    out = subprocess.run(
        [sys.executable, "-c", _CHUNK_PROBE, REPO, SF_DIR, wh],
        capture_output=True, text=True, timeout=600, cwd=REPO)
    assert out.returncode == 0, out.stderr[-3000:]
    line = [ln for ln in out.stdout.splitlines()
            if ln.startswith("PROBE:")][-1]
    res = json.loads(line[len("PROBE:"):])
    assert res["built"] is False
    assert res["n_build_events"] == 0
    assert [tuple(r) for r in res["rows"]] == mine


def test_reader_survives_concurrent_rebuild(spark, tmp_path):
    """Versioned rebuilds (VERDICT r6 #4 / ADVICE r6): a corpus roll
    writes a NEW fingerprint-scoped version dir and repoints the meta —
    a reader application still holding DataFrames on the previous
    version stays correct across the swap; GC keeps current+prior and
    deletes older versions only after the next successful commit."""
    from aws_payment_data_lake_spark.sources.store import (
        corpus_fingerprint,
        load_or_build,
        write_store,
    )

    store = str(tmp_path / "vstore")

    def corpus(n):
        return spark.range(n).selectExpr("id", "id * 2 AS v")

    c1 = corpus(10)
    fp1 = corpus_fingerprint(c1)
    frames1, built1 = load_or_build(spark, store, fp1, ("t",),
                                    lambda: {"t": c1})
    assert built1
    old = frames1["t"]  # lazy plan over the fp1 version's parquet
    assert old.count() == 10

    # concurrent same-fingerprint writer: idempotent, data undisturbed
    write_store(store, fp1, {"t": corpus(10)})
    assert old.count() == 10

    # corpus roll -> new version committed; OLD frames stay readable
    c2 = corpus(20)
    fp2 = corpus_fingerprint(c2)
    frames2, built2 = load_or_build(spark, store, fp2, ("t",),
                                    lambda: {"t": c2})
    assert built2 and fp2 != fp1
    assert sorted(r["v"] for r in old.collect()) == [2 * i
                                                     for i in range(10)]
    assert frames2["t"].count() == 20
    assert os.path.isdir(os.path.join(store, fp1))  # prior retained

    # second roll: fp1 is now two versions old -> GC'd; fp2 retained
    c3 = corpus(30)
    fp3 = corpus_fingerprint(c3)
    _, built3 = load_or_build(spark, store, fp3, ("t",),
                              lambda: {"t": c3})
    assert built3
    assert not os.path.isdir(os.path.join(store, fp1))
    assert os.path.isdir(os.path.join(store, fp2))
    # roll BACK to the retained fingerprint: instant re-point, no build
    back, rebuilt = load_or_build(spark, store, fp2, ("t",),
                                  lambda: (_ for _ in ()).throw(
                                      AssertionError("must not rebuild")))
    assert not rebuilt and back["t"].count() == 20


def test_shared_store_consults_warehouse(spark, tmp_path, monkeypatch):
    """With SPARK_GRAFT_WAREHOUSE set and a cold memo, the session
    store builds THROUGH the durable tier (parquet lands under the
    warehouse) instead of in memory."""
    import aws_payment_data_lake_spark.queries.dedup as QD

    wh = str(tmp_path / "wh3")
    monkeypatch.setenv(QD.WAREHOUSE_ENV, wh)
    monkeypatch.setattr(QD, "_SHARED_MINHASH", {})
    sh, sigs = QD.shared_base_tables(spark, SF_DIR)
    hits = glob.glob(os.path.join(wh, "minhash_base", "v*", "sigs"))
    assert len(hits) == 1
    stored = hits[0]
    # the memoized frame IS the stored table (same rows; inputFiles is
    # empty on persisted frames, so compare against a direct read)
    assert sigs.count() == spark.read.parquet(stored).count() > 0


def test_fingerprint_catches_even_multiplicity_swap(spark):
    """ADVICE r6: XOR alone cancels on even-multiplicity swaps
    ({A,A,B,B} vs {A,A,A,A}: same count, same XOR); the additive fold
    must split them."""
    a = spark.createDataFrame([("x",), ("x",), ("y",), ("y",)], "v: string")
    b = spark.createDataFrame([("x",), ("x",), ("x",), ("x",)], "v: string")
    assert corpus_fingerprint(a) != corpus_fingerprint(b)


def test_fingerprint_quotes_awkward_column_names(spark):
    """Backtick-quoting: a column name needing quoting must not break
    the fingerprint expression (ADVICE r6)."""
    df = spark.createDataFrame([(1, "a")], ["doc id", "select"])
    fp = corpus_fingerprint(df)
    assert fp.startswith("v2-1-")


def test_torn_table_dir_recovers_not_wedges(spark, tmp_path):
    """Crash-recovery (ADVICE r8): a partial table dir inside a
    committed version dir (a writer died mid-write, leaving no
    _SUCCESS) must trigger a rebuild of that table on the next
    load_or_build — NOT a meta commit over the torn dir, which would
    make every later read fail while no rebuild ever runs."""
    import shutil as _sh

    from aws_payment_data_lake_spark.sources.store import (
        corpus_fingerprint,
        load_or_build,
    )

    store = str(tmp_path / "tornstore")
    c = spark.range(10).selectExpr("id", "id * 3 AS v")
    fp = corpus_fingerprint(c)

    frames, built = load_or_build(spark, store, fp, ("t",),
                                  lambda: {"t": c})
    assert built and frames["t"].count() == 10

    # simulate a crashed writer adding a second table: dir present,
    # no _SUCCESS, garbage content
    torn = os.path.join(store, fp, "extra")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "w") as fh:
        fh.write("not parquet")

    builds = []

    def build():
        builds.append(1)
        return {"t": c, "extra": spark.range(5).selectExpr(
            "id", "id AS w")}

    frames2, built2 = load_or_build(spark, store, fp, ("t", "extra"),
                                    build)
    # the torn dir must NOT satisfy the dir-presence shortcut
    assert builds, "torn table dir was committed without a rebuild"
    assert frames2["extra"].count() == 5
    assert frames2["t"].count() == 10
    assert os.path.exists(os.path.join(store, fp, "extra", "_SUCCESS"))

    # replay: now complete, zero rebuilds
    frames3, built3 = load_or_build(
        spark, store, fp, ("t", "extra"),
        lambda: (_ for _ in ()).throw(AssertionError("must not rebuild")))
    assert frames3["extra"].count() == 5
    _sh.rmtree(store)


def test_concurrent_meta_commits_never_collide(tmp_path):
    """Four threads committing the meta pointer of ONE store dir
    300 times each: every commit lands without an exception and the
    final meta parses. A shared fixed temp name loses here — one
    writer's os.replace moves the temp another writer is about to
    publish, and the loser raises FileNotFoundError."""
    import threading

    from aws_payment_data_lake_spark.sources.store import (
        STORE_VERSION,
        _commit_meta,
    )

    store = str(tmp_path / "store")
    os.makedirs(store)
    errors: list[BaseException] = []

    def writer(i: int) -> None:
        try:
            for n in range(300):
                _commit_meta(store, f"v2-{n}-{i:016x}", ["t"],
                             {"writer": i})
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,))
               for i in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, f"{len(errors)} commits raised: {errors[0]!r}"
    with open(os.path.join(store, "_STORE_META.json")) as fh:
        meta = json.load(fh)
    assert meta["version"] == STORE_VERSION and meta["tables"] == ["t"]
    assert not [n for n in os.listdir(store) if n.startswith(".tmp")]
