"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query wall seconds.

Comparable baseline (BASELINE.md): chromem-go scores a 1536-dim corpus at
~2.5M doc-scores/ms-equivalent... its headline is 100k docs in 40 ms per
single query. Spark is a batch engine, so the headline here is batch kNN
throughput: (queries x docs) similarity scores per second, plus the
pipeline operators the reference doesn't have.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry  # noqa: E402
from chromem_go_spark.session import get_spark  # noqa: E402

# The explicit bench list: a registry entry is NOT benched until added
# here (tools/inventory.py stamps the benched count into COVERAGE.md).
BENCH_NAMES = [
    "knn_topk",
    "knn_batch",
    "knn_filtered",
    "knn_negative_subtract",
    "ivf_search_exact",
    "dedup_exact",
    "ngram_jaccard",
    "word_ngram_jaccard",
    "cdc_fingerprints",
    "minhash_lsh",
    "simhash_pairs",
    "embedding_neardup_lsh",
    "text_stats",
    "lang_id",
    "events_sessionize",
    "events_session_window",
    "events_window_hourly",
    "events_topk_users",
    "events_trending",
    "events_percentiles",
    "events_percentiles_approx",
    "events_funnel",
    "events_retention",
    "events_asof",
    "events_time_rollup",
    "multimodal_meta",
    "image_neardup",
    "knn_batch_expr",
    "knn_batch_per_filter",
    "knn_batch_per_filter2",
    "dedup_clusters_star",
    "ivf_search_batch",
    "ivf_pq_search",
    "quality_filter",
    "doc_repetition",
    "vocab_stats",
    "stratified_sample",
    "pack_chunks",
    "eval_sample",
    "chunk_documents",
    "dedup_clusters",
    "training_pipeline",
    "orders_by_segment",
    "lineitem_pricing",
    "shipping_priority",
    "orders_rollup",
    "standing_queries",
    "salted_join_events",
    "decontaminate",
    "pii_scrub",
    "mix_corpus",
    "unigram_logprob",
    "duplicate_spans",
    "strip_duplicate_spans",
    "bpe_pair_counts",
    "dedup_keep_best",
    "audio_neardup",
    "events_interval_join",
    "containment",
    "tfidf_topk",
    "embedding_clusters",
    "weighted_sample",
    "pmi_collocations",
    "video_neardup",
    "events_props",
    "corpus_diff",
    "events_join_within",
    "corpus_shards",
    "hybrid_search",
    "regional_supplier_volume",
    "promo_revenue_share",
    "events_anomalies",
    "events_paths",
    "semantic_dedup",
    "semantic_dedup_kmeans",
    "mmr_rerank",
    "quality_model_scores",
    "dsir_scores",
    "bigram_logprob",
    "semantic_decontaminate",
    "cdc_fingerprints_kernel",
    "gopher_quality",
    "ivf_search_filtered",
    "bm25_topk",
    "ranking_metrics",
    "ivf_sq_search",
    "pack_corpus",
    "prf_search",
    "cross_corpus_neardup",
    "cross_corpus_minhash",
    "corpus_report",
    "semantic_clusters",
    "events_heatmap",
    "split_corpus",
    "where_contains_indexed",
    "knn_routed",
    "knn_routed_ivf",
    "knn_routed_batch",
    "knn_routed_batch_ivf",
    "query_text_routed",
    "query_batch_extended",
    "shard_packed_corpus",
    "bloom_dedup",
    "knn_batch_negative",
    "knn_batch_per_filter_ivf",
    "pack_corpus_bpe",
    "hnsw_search",
    "hnsw_search_deleted",
    "hnsw_search_filtered",
    "hnsw_sharded_search",
    "hnsw_sharded_deleted",
    "hnsw_split_search",
    "hnsw_batch_per_filter",
    "length_histogram",
    "source_report",
    "tokenizer_fertility",
    "unimax_weights",
    "where_extended",  # r14: rotated into the window
    "where_not_contains",  # r15: rotated to extras (window back to 50); benched from here on
]



def _measure_throughput_points(spark, inrun: bool = False) -> tuple[dict, dict]:
    """The four reference-comparable throughput points (BASELINE.md
    harness shape: 100k docs x d=1536, k=10) measured in THIS session.
    Returns (points, errors).  Run it in a fresh subprocess JVM for the
    official numbers (r8 lesson: in a session that just ran the
    117-query loop, the same kernel reads 5-6x slower — block-manager /
    GC state, not code), and in-run for the drift gap as recorded data.
    """
    n_docs, dim, k = 100_000, 1536, 10
    errors: dict[str, str] = {}
    points: dict[str, dict | None] = {}
    if inrun:
        # settle: let the ContextCleaner drain the query loop's blocks
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        time.sleep(3)
    corpus = _synth_corpus(spark, n_docs, dim).localCheckpoint(eager=True)
    all_qvecs = [r["embedding"] for r in corpus.limit(256).collect()]
    from chromem_go_spark.operators import knn as K

    def _throughput(n_q: int, warm_rounds: int, precision: str = "float64") -> dict:
        # min over every round but the first: steady-state, same as the
        # reference's averaged ns/op
        qvecs = all_qvecs[:n_q]
        wall = float("inf")
        for i in range(max(warm_rounds, 1) + 2):
            t0 = time.time()
            nres = K.knn_block(
                corpus, [str(j) for j in range(n_q)], qvecs, k,
                vec_col="embedding", id_col="id", precision=precision,
            ).count()
            if i >= 1:
                wall = min(wall, time.time() - t0)
            assert nres == n_q * k, nres
        sps = int(n_q * n_docs / wall)
        print(
            f"# knn_100k_1536 q={n_q} ({precision}"
            f"{', in-run' if inrun else ', fresh JVM'}): {wall:.2f}s = "
            f"{sps:,} doc-scores/sec (reference: ~2.5M/sec)",
            file=sys.stderr,
        )
        return {
            "n_docs": n_docs, "dim": dim, "n_queries": n_q, "k": k,
            "wall_sec": round(wall, 3), "doc_scores_per_sec": sps,
            "baseline_doc_scores_per_sec": 2_500_000,
        }

    # two query-count points: 64 (the r01 headline) and 256 (shows the
    # per-job overhead amortizing); float32 = the reference's own
    # arithmetic (Go float32 slices), float64 = the oracle-exact mode
    try:
        # fresh JVM: q64's warm rounds warm the whole subprocess; the
        # in-run re-measurement is drift data in an already-warm
        # session, so it skips them (keeps the bench wall bounded)
        points["knn_batch_100k_1536"] = _throughput(
            64, warm_rounds=0 if inrun else 2
        )
        points["knn_batch_100k_1536_q256"] = _throughput(256, warm_rounds=0)
        points["knn_batch_100k_1536_q256_f32"] = _throughput(
            256, warm_rounds=0, precision="float32"
        )
    except Exception as e:  # noqa: BLE001 — emit partial artifact, never crash
        errors["knn_batch_100k_1536"] = f"{type(e).__name__}: {e}"[:300]

    # Batch ROUTER point at the same shape (q=256): routed_search_batch
    # resolves FLAT by the ladder and must add ~zero overhead over the
    # raw kernel.
    try:
        from chromem_go_spark.operators import router as RT

        # the three kernel points above leave shuffle/broadcast blocks
        # draining; settle so the routed point isn't charged for them
        # (observed: 11.8s vs 1.8s for the identical plan)
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        time.sleep(2)
        qvecs256 = all_qvecs[:256]
        wall = float("inf")
        for i in range(4):
            t0 = time.time()
            nres = RT.routed_search_batch(
                corpus, [str(j) for j in range(256)], qvecs256, k,
                vec_col="embedding", id_col="id", n_docs=n_docs,
            ).count()
            if i >= 1:
                wall = min(wall, time.time() - t0)
            assert nres == 256 * k, nres
        points["knn_routed_batch_100k_q256"] = {
            "n_docs": n_docs, "dim": dim, "n_queries": 256, "k": k,
            "wall_sec": round(wall, 3),
            "doc_scores_per_sec": int(256 * n_docs / wall),
            "tier": "flat (auto)",
        }
        print(
            f"# knn_routed_batch_100k q=256"
            f"{' (in-run)' if inrun else ' (fresh JVM)'}: {wall:.2f}s",
            file=sys.stderr,
        )
    except Exception as e:  # noqa: BLE001
        errors["knn_routed_batch_100k"] = f"{type(e).__name__}: {e}"[:300]
    del corpus
    return points, errors


THROUGHPUT_POINT_NAMES = [
    "knn_batch_100k_1536",
    "knn_batch_100k_1536_q256",
    "knn_batch_100k_1536_q256_f32",
    "knn_routed_batch_100k_q256",
]

# ---------------------------------------------------------------------
# Graph-tier serving pins (r14, VERDICT ask #1): hnsw.py is the
# most-edited file every round yet its serving paths were measured only
# in-run, where the r13 readings swung ~1.7x on session load alone —
# the in-run hnsw_* rows are NON-AUTHORITATIVE drift data; these two
# fresh-JVM min-of-2 points are the regression gate.  They LOAD a
# cached fixture (tools/build_graph_pin.py — the 100k single-graph
# build is serial and takes tens of minutes, far too slow to rebuild
# per bench run); when the fixture is absent the pins record a skip
# note instead of paying the build.
GRAPH_PIN_FIXTURE = os.environ.get(
    "SPARK_GRAFT_GRAPH_PIN_DIR",
    os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "scaledata", "graph_pin_v1",
    ),
)
GRAPH_PIN_NAMES = [
    "hnsw_serve_single_100k_q64",
    "hnsw_serve_sharded_100k_S16_P2_q64",
]


def _graph_pin_ready() -> bool:
    try:
        with open(os.path.join(GRAPH_PIN_FIXTURE, "params.json")) as f:
            p = json.load(f)
        # the official pin is the 100k fixture; an env-overridden dir
        # (tests) may carry any size — params.json is its own stamp
        if "SPARK_GRAFT_GRAPH_PIN_DIR" in os.environ:
            return int(p.get("n_docs", 0)) > 0
        return int(p.get("n_docs", 0)) == 100_000
    except Exception:  # noqa: BLE001 — absent/partial fixture = not ready
        return False


# Fallback graph-pin fixture: when the official 100k fixture is absent,
# bench builds this small one (same build tool, same layout) so the graph
# pins still run; each pin carries the fixture's name, n_docs and dim,
# so a fallback reading is never read as the official 100k pin.  Built
# in a subprocess (the bench JVM stays fresh) and cached under
# scaledata/; ~2,000 x 128 builds in well under a minute.
GRAPH_PIN_FALLBACK_PARAMS = {
    "n_docs": 2_000, "dim": 128, "M": 16, "ef_construction": 200,
    "seed": 42, "n_shards": 16, "block": 125,
}


def _build_fallback_graph_pin() -> None:
    """Build (or reuse) the fallback fixture and point the graph pins
    at it: the pin subprocesses read SPARK_GRAFT_GRAPH_PIN_DIR."""
    global GRAPH_PIN_FIXTURE
    p = GRAPH_PIN_FALLBACK_PARAMS
    here = os.path.dirname(os.path.abspath(__file__))
    fix = os.path.join(
        here, "scaledata", f"graph_pin_fallback_{p['n_docs']}x{p['dim']}"
    )
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import json, build_graph_pin as g; "
        "g.main(params=json.loads(sys.argv[2]), fixture=sys.argv[3])"
    )
    subprocess.run(
        [sys.executable, "-c", code, os.path.join(here, "tools"),
         json.dumps(p), fix],
        capture_output=True, text=True, timeout=300, check=True, cwd=here,
    )
    os.environ["SPARK_GRAFT_GRAPH_PIN_DIR"] = fix
    GRAPH_PIN_FIXTURE = fix


def isolated_graph_main() -> None:
    """Fresh-JVM serving measurement for the graph tier: the served
    SINGLE graph (100k x 1536 at M=16/ef_c=200, q=64 driver-side walks
    at the served default ef=64) and the SHARDED centroid root (same
    corpus, S=16, routed at P=2 — one walk task per probed shard).
    min over rounds 2..5 in-JVM (round 1 pays the npz loads; the
    sharded walk's worker-local graph caches keep warming for a few
    rounds after that, since local-mode task->worker assignment is
    arbitrary — serving steady state amortizes all of it); bench's
    main process runs this subprocess twice and keeps the per-point
    min.
    Prints one JSON line and exits."""
    import pyarrow.parquet as pq

    from chromem_go_spark.operators import hnsw as H

    with open(os.path.join(GRAPH_PIN_FIXTURE, "params.json")) as f:
        params = json.load(f)
    n_docs, dim = int(params["n_docs"]), int(params["dim"])
    n_q, k, ef = min(64, n_docs), 10, 64
    spark = get_spark("bench-isolated-graph")
    spark.sparkContext.setLogLevel("ERROR")
    tab = pq.read_table(
        os.path.join(GRAPH_PIN_FIXTURE, "corpus.parquet"),
        columns=["id", "embedding"],
    ).slice(0, n_q)
    qids = [str(i) for i in tab.column("id").to_pylist()]
    qvecs = [list(map(float, v)) for v in tab.column("embedding").to_pylist()]
    out: dict = {}

    t0 = time.time()
    idx = H.HNSWIndex.load(os.path.join(GRAPH_PIN_FIXTURE, "single"))
    load_sec = round(time.time() - t0, 3)
    wall = float("inf")
    for i in range(5):
        t0 = time.time()
        n = idx.search_batch(spark, qids, qvecs, k, ef=ef).count()
        if i >= 1:
            wall = min(wall, time.time() - t0)
        assert n == n_q * k, n
    # the walk ALONE (r14): wall_sec is dominated by the fixed
    # createDataFrame/count overhead (~0.6 s for 640 rows), which
    # would mask a real walk regression — walk_sec is the pure
    # driver-side graph traversal the pin exists to watch
    walk = float("inf")
    for i in range(3):
        t0 = time.time()
        for qv in qvecs:
            idx.search(qv, k, ef=ef)
        if i >= 1:
            walk = min(walk, time.time() - t0)
    out["hnsw_serve_single_100k_q64"] = {
        "n_docs": n_docs, "dim": dim, "n_queries": n_q, "k": k,
        "ef": ef, "wall_sec": round(wall, 3),
        "walk_sec": round(walk, 3), "cold_load_sec": load_sec,
        "queries_per_sec": int(n_q / wall),
        "walk_ms_per_query": round(1000 * walk / n_q, 2),
    }

    root = os.path.join(GRAPH_PIN_FIXTURE, "sharded")
    wall = float("inf")
    for i in range(5):
        t0 = time.time()
        n = H.sharded_search_batch(
            spark, root, qids, qvecs, k, ef=ef, shards_probed=2
        ).count()
        if i >= 1:
            wall = min(wall, time.time() - t0)
        assert n == n_q * k, n
    out["hnsw_serve_sharded_100k_S16_P2_q64"] = {
        "n_docs": n_docs, "dim": dim, "n_queries": n_q, "k": k,
        "ef": ef, "n_shards": int(params["n_shards"]),
        "shards_probed": 2, "wall_sec": round(wall, 3),
        "queries_per_sec": int(n_q / wall),
    }
    print(json.dumps(out))


def isolated_throughput_main() -> None:
    """Fresh-JVM measurement of ALL four throughput points in one
    subprocess (one JVM start, one corpus synth; the q64 point's warm
    rounds warm the JVM for the rest).  This is the OFFICIAL number: r8's
    in-run artifact recorded 2.59M doc-scores/s for a kernel that a fresh
    JVM in the same sandbox runs at 14.5M/s (VERDICT r8) — end-of-run
    session state, not code.  Prints one JSON line and exits."""
    spark = get_spark("bench-isolated-throughput")
    spark.sparkContext.setLogLevel("ERROR")
    points, errors = _measure_throughput_points(spark, inrun=False)
    out: dict = {k: v for k, v in points.items()}
    if errors:
        out["errors"] = errors
    print(json.dumps(out))


def isolated_main(name: str) -> None:
    """Fresh-session single-query measurement (min-of-2) — the
    BENCHNOTES isolation protocol as recorded data: a brand-new JVM,
    nothing else run in the session, so the number is free of in-run
    block-manager/session load. Prints one JSON line and exits."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(f"bench-isolated-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    if name == "ivf_pq_build":
        # r15 (judge item 6): ivf_pq_build is a bench-section row, not a
        # registry query — pin the SAME timed build (same args as the
        # in-run section) in a fresh JVM, min of 2.
        from chromem_go_spark.operators import ann as ANN

        emb_p = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            ANN.IVFPQIndex.build(
                emb_p, n_clusters=8, m=16, vec_col="embedding", id_col="vec_id"
            )
            best = min(best, time.time() - t0)
        print(json.dumps({"name": name, "sec": round(best, 3)}))
        return
    qs = {**entry.queries(), **entry.extra_queries()}
    fn = qs[name]
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        fn(spark, sf_dir).count()
        best = min(best, time.time() - t0)
    print(json.dumps({"name": name, "sec": round(best, 3)}))


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--isolated":
        isolated_main(sys.argv[2])
        return
    if len(sys.argv) >= 2 and sys.argv[1] == "--isolated-throughput":
        isolated_throughput_main()
        return
    if len(sys.argv) >= 2 and sys.argv[1] == "--isolated-graph":
        isolated_graph_main()
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    # OFFICIAL throughput points FIRST, in one fresh subprocess JVM on
    # the quiet host (before this process starts its own JVM — never two
    # WORKING Spark JVMs at once).  The in-run re-measurement later in
    # this session is kept as drift data only.
    errors: dict[str, str] = {}
    iso_points: dict[str, dict] = {}
    try:
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--isolated-throughput"],
            capture_output=True, text=True, timeout=900, check=True,
        )
        parsed = json.loads(r.stdout.strip().splitlines()[-1])
        for perr, msg in (parsed.pop("errors", None) or {}).items():
            errors[f"iso_{perr}"] = str(msg)[:300]
        iso_points = {k: v for k, v in parsed.items() if isinstance(v, dict)}
        for pname, pt in iso_points.items():
            print(
                f"# {pname} isolated: {pt['wall_sec']}s = "
                f"{pt['doc_scores_per_sec']:,}/s (fresh JVM)",
                file=sys.stderr,
            )
    except Exception as e:  # noqa: BLE001
        errors["isolated_throughput"] = f"{type(e).__name__}: {e}"[:300]

    # Isolated-mode control point FIRST, before this process starts its
    # own JVM work: ngram_jaccard in a fresh subprocess session on an
    # otherwise-quiet machine (never two WORKING Spark JVMs at once).
    # Pins the in-run vs isolated gap BENCHNOTES attributes to session
    # load as recorded data each round.
    detail_funnel: dict | None = None
    # r8 extends the control set to the exact-dedup family pair whose
    # in-run readings crept ~22% over r6→r7 while plans stayed
    # identical: a fresh-JVM point each round tells host/session drift
    # from a real regression without waiting for the 3x auto-pin.
    # r11 adds training_pipeline (the heaviest non-dedup family) so
    # round-over-round comparison never leans on in-run numbers —
    # r10's in-run walls ran 2.4x contaminated with only 3 controls.
    # r13 (judge): each control is min-of-2 FRESH JVMs — two separate
    # subprocess runs, like the kNN throughput pins — not just
    # min-of-2 iterations inside one JVM.  r12's single-shot controls
    # read up to 2.4x apart on the same code same day (dedup_keep_best
    # 24.3 vs 12.0 s, driver vs builder), wide enough to hide a real
    # 2x regression; a host burst that inflates one JVM's whole
    # lifetime cannot inflate both.  Both readings are recorded
    # (isolated_control_runs) so the artifact shows the band, and the
    # kept value is the min (BENCHNOTES documents the protocol).
    # r15 (judge item 6): ivf_pq_build joins the fresh-JVM control set —
    # its in-run wall swung 4.7-13.1 s across rounds on zero code
    # change, so the pin is the comparable number (pure addition).
    iso_controls: dict[str, float] = {}
    iso_control_runs: dict[str, list[float]] = {}
    for ctl in ("ngram_jaccard", "dedup_keep_best", "dedup_clusters_star",
                "training_pipeline", "ivf_pq_build"):
        runs: list[float] = []
        for attempt in (1, 2):
            try:
                r = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--isolated", ctl],
                    capture_output=True, text=True, timeout=600,
                    check=True,
                )
                runs.append(float(
                    json.loads(r.stdout.strip().splitlines()[-1])["sec"]
                ))
            except Exception as e:  # noqa: BLE001
                errors[f"{ctl}_isolated_run{attempt}"] = (
                    f"{type(e).__name__}: {e}"[:300]
                )
        if runs:
            iso_controls[ctl] = min(runs)
            iso_control_runs[ctl] = runs
            print(
                f"# {ctl}_isolated: {iso_controls[ctl]}s "
                f"(min of {len(runs)} fresh JVMs: "
                f"{'/'.join(str(x) for x in runs)})",
                file=sys.stderr,
            )
    iso_time = iso_controls.get("ngram_jaccard")

    # Graph-tier serving pins (r14): two fresh subprocess JVMs, still
    # before this process starts its own JVM; per-point min kept, both
    # readings recorded (graph_pin_runs).  The in-run hnsw_* registry
    # rows remain in `queries` as drift data only — THESE are the
    # authoritative serving numbers.
    graph_pins: dict[str, dict] = {}
    graph_pin_runs: dict[str, list[float]] = {}
    if not _graph_pin_ready():
        try:
            _build_fallback_graph_pin()
        except Exception as e:  # noqa: BLE001
            errors["graph_pin_fallback"] = f"{type(e).__name__}: {e}"[:300]
    if _graph_pin_ready():
        for attempt in (1, 2):
            try:
                r = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--isolated-graph"],
                    capture_output=True, text=True, timeout=600,
                    check=True,
                )
                parsed = json.loads(r.stdout.strip().splitlines()[-1])
                for pname, pt in parsed.items():
                    if not isinstance(pt, dict):
                        continue
                    graph_pin_runs.setdefault(pname, []).append(
                        pt["wall_sec"]
                    )
                    if (
                        pname not in graph_pins
                        or pt["wall_sec"]
                        < graph_pins[pname]["wall_sec"]
                    ):
                        graph_pins[pname] = pt
            except Exception as e:  # noqa: BLE001
                errors[f"graph_pins_run{attempt}"] = (
                    f"{type(e).__name__}: {e}"[:300]
                )
        for pname, pt in graph_pins.items():
            pt["isolation"] = (
                f"fresh_jvm (min of {len(graph_pin_runs[pname])} "
                "subprocess runs)"
            )
            pt["runs"] = graph_pin_runs[pname]
            pt["fixture"] = os.path.basename(GRAPH_PIN_FIXTURE)
            print(
                f"# {pname}: {pt['wall_sec']}s "
                f"({pt['queries_per_sec']} q/s; runs "
                f"{'/'.join(str(x) for x in graph_pin_runs[pname])})",
                file=sys.stderr,
            )
    else:
        errors["graph_pins"] = (
            "fixture absent - run tools/build_graph_pin.py once "
            "(cached under scaledata/; the 100k single-graph build is "
            "serial and too slow to pay per bench run)"
        )

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = {**entry.queries(), **entry.extra_queries()}
    bench_names = list(BENCH_NAMES)

    # Warm the JVM/session so the first measured query isn't paying
    # startup: one scan + one shuffle + one python-worker round trip.
    warm = spark.read.parquet(f"{sf_dir}/documents.parquet")
    warm.groupBy("lang").count().count()
    warm.limit(64).mapInPandas(lambda it: it, warm.schema).count()

    # Two runs per query, report the min: the first run pays plan
    # compilation + any transient JVM/OS contention; the min is the
    # steady-state number (the reference's Go benchmark harness likewise
    # reports averaged steady-state ns/op).
    import gc

    # Heavy similarity-join queries run FIRST (fresh block manager —
    # measured: the same query is 2-4x slower late in a loaded session);
    # every query is min-of-2 steady-state.
    heavy = [
        "ngram_jaccard",
        "dedup_clusters",
        "dedup_clusters_star",
        "dedup_keep_best",
        "containment",
        "training_pipeline",
        "minhash_lsh",
    ]
    bench_names = heavy + [n for n in bench_names if n not in heavy]

    times: dict[str, float] = {}
    for name in bench_names:
        fn = qs[name]
        best, n = float("inf"), 0
        # Per-query isolation: one broken query records an err entry and
        # the run keeps going — r3 lost ALL timings to a single
        # AnalysisException aborting the whole loop.
        try:
            for _ in range(2):
                try:
                    spark.sparkContext._jvm.System.gc()
                except Exception:
                    pass
                t0 = time.time()
                df = fn(spark, sf_dir)
                n = df.count()
                best = min(best, time.time() - t0)
                # Release driver refs so the ContextCleaner can drop cached
                # checkpoint blocks — otherwise they accumulate across the
                # run and degrade later queries.
                del df
                gc.collect()
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"# {name}: ERR {errors[name]}", file=sys.stderr)
            continue
        times[name] = round(best, 3)
        print(f"# {name}: {times[name]}s ({n} rows)", file=sys.stderr)

    # IVF build vs probe, split: q_ivf_search_batch times both together;
    # a served index amortizes the build, so the steady-state number is
    # probe-only. Build wall is reported separately.
    try:
        from pyspark.sql import functions as F

        from chromem_go_spark.materialize import materialize
        from chromem_go_spark.operators import ann as ANN

        emb_b = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        t0 = time.time()
        idx_b = ANN.IVFIndex.build(
            emb_b, n_clusters=8, vec_col="embedding", id_col="vec_id"
        )
        # a served index stores the cluster-assigned corpus; materialize
        # it so probe timing doesn't re-pay the assignment scan
        idx_b.assigned = materialize(idx_b.assigned)
        times["ivf_build"] = round(time.time() - t0, 3)
        qrows_b = (
            emb_b.filter(F.col("vec_id") < 8)
            .select("vec_id", "embedding")
            .collect()
        )
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            idx_b.search_batch(
                [str(r["vec_id"]) for r in qrows_b],
                [list(r["embedding"]) for r in qrows_b],
                5,
                nprobe=8,
            ).count()
            best = min(best, time.time() - t0)
        times["ivf_search_batch_probe"] = round(best, 3)
        print(
            f"# ivf_build: {times['ivf_build']}s / probe-only: "
            f"{times['ivf_search_batch_probe']}s",
            file=sys.stderr,
        )
    except Exception as e:  # noqa: BLE001
        errors["ivf_build_probe_split"] = f"{type(e).__name__}: {e}"[:300]

    # Same split for IVF-PQ: q_ivf_pq_search re-pays k-means + codebook
    # training every call; a served PQ index amortizes both, so the
    # steady-state number is ADC-probe + re-rank only.
    try:
        from pyspark.sql import functions as F

        from chromem_go_spark.operators import ann as ANN

        emb_p = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        t0 = time.time()
        idx_p = ANN.IVFPQIndex.build(
            emb_p, n_clusters=8, m=16, vec_col="embedding", id_col="vec_id"
        )
        times["ivf_pq_build"] = round(time.time() - t0, 3)
        qrows_p = (
            emb_p.filter(F.col("vec_id") < 8)
            .select("vec_id", "embedding")
            .collect()
        )
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            idx_p.search_batch(
                [str(r["vec_id"]) for r in qrows_p],
                [list(r["embedding"]) for r in qrows_p],
                5,
                nprobe=8,
                rerank=100,
            ).count()
            best = min(best, time.time() - t0)
        times["ivf_pq_search_probe"] = round(best, 3)
        print(
            f"# ivf_pq_build: {times['ivf_pq_build']}s / probe-only: "
            f"{times['ivf_pq_search_probe']}s",
            file=sys.stderr,
        )
    except Exception as e:  # noqa: BLE001
        errors["ivf_pq_build_probe_split"] = f"{type(e).__name__}: {e}"[:300]

    # Gram-index $contains split: the registry entry re-pays the posting
    # build per call; a SERVED (persisted, gram-sorted) index amortizes
    # it — steady state is the parquet-pruned gram intersection + the
    # substring verify over candidates only, vs the full-corpus scan.
    # Selective pattern on purpose: that's the regime an index exists for.
    try:
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from chromem_go_spark.operators import textindex as TIX

        docs_ti = spark.read.parquet(f"{sf_dir}/documents.parquet")
        tdir = tempfile.mkdtemp(prefix="gram_idx_")
        t0 = time.time()
        TIX.write_gram_index(
            TIX.build_gram_index(docs_ti, text_col="text", id_col="doc_id"),
            f"{tdir}/idx",
        )
        times["gram_index_build"] = round(time.time() - t0, 3)
        stored = spark.read.parquet(f"{tdir}/idx")
        pat = "merge batch part"
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            docs_ti.filter(F.col("text").contains(pat)).count()
            best = min(best, time.time() - t0)
        times["contains_scan"] = round(best, 3)
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            TIX.where_contains_indexed(
                docs_ti, stored, pat, text_col="text", id_col="doc_id"
            ).count()
            best = min(best, time.time() - t0)
        times["contains_indexed_served"] = round(best, 3)
        # The scale-relevant number at a fixed small sf is the FUNNEL,
        # not wall (at sf0.1 the full scan is already sub-second, so
        # per-job overhead dominates both paths): how many docs reach
        # the substring verify.  At 100 TB the verify scan is the query
        # cost and this ratio is the speedup bound.
        n_total = docs_ti.count()
        cand = TIX.contains_candidates(stored, pat)
        n_cand = cand.count() if cand is not None else n_total
        detail_funnel = {
            "pattern": pat,
            "docs_total": n_total,
            "candidates_after_index": n_cand,
            "build_sec": times["gram_index_build"],
            "scan_sec": times["contains_scan"],
            "indexed_sec": times["contains_indexed_served"],
        }
        shutil.rmtree(tdir, ignore_errors=True)
        print(
            f"# gram_index_build: {times['gram_index_build']}s / scan: "
            f"{times['contains_scan']}s / indexed: "
            f"{times['contains_indexed_served']}s / funnel "
            f"{n_cand}/{n_total} docs reach the verify",
            file=sys.stderr,
        )
    except Exception as e:  # noqa: BLE001
        errors["gram_index_split"] = f"{type(e).__name__}: {e}"[:300]

    # Streaming SERVING latency (r9): micro-batch p50/p95 for the two
    # serving-shaped sinks — routed_probe_sink (query stream against a
    # served IVF tier through the router ladder) and bloom_gate_sink
    # (document stream through the bounded-state membership gate).
    # Latency is read from Spark's own per-batch progress
    # (durationMs.triggerExecution), not wall-clock around the drain,
    # so the number is the per-micro-batch serving cost a stream user
    # sees.  Recorded in BENCH_DETAIL.json only (BENCHNOTES documents
    # the shape).
    streaming_detail: dict | None = None
    try:
        streaming_detail = _streaming_serving_bench(spark, sf_dir)
        for name, st in (streaming_detail or {}).items():
            print(
                f"# {name}: p50 {st['p50_ms']}ms / p95 {st['p95_ms']}ms "
                f"over {st['n_batches']} micro-batches "
                f"({st['rows_per_batch']} rows/batch)",
                file=sys.stderr,
            )
    except Exception as e:  # noqa: BLE001
        errors["streaming_serving_bench"] = f"{type(e).__name__}: {e}"[:300]

    # Serving latency UNDER ingest, across an auto_split (r14):
    # p50/p95 per split-lifecycle phase, recorded in BENCH_DETAIL only
    overlap_detail: dict | None = None
    try:
        overlap_detail = _ingest_serve_overlap_bench(spark)
        for phase, st in (overlap_detail.get("phases") or {}).items():
            print(
                f"# ingest_serve_overlap {phase}: p50 {st['p50_ms']}ms"
                f" / p95 {st['p95_ms']}ms over {st['n_serves']} serves",
                file=sys.stderr,
            )
    except Exception as e:  # noqa: BLE001
        errors["ingest_serve_overlap"] = f"{type(e).__name__}: {e}"[:300]

    # training_pipeline with the dedup-pairs subtree MATERIALIZED (how a
    # real pipeline runs it — the pair graph is an intermediate, not
    # recomputed): isolates the pipeline's own cost from dedup_clusters',
    # which the plain entry re-pays in full.
    from pyspark.sql import functions as F

    from chromem_go_spark.functions import text as T
    from chromem_go_spark.materialize import materialize
    from chromem_go_spark.operators import dedup as D

    try:
        docs_tbl = spark.read.parquet(f"{sf_dir}/documents.parquet")
        reps = materialize(D.dedup_clusters(docs_tbl, threshold=0.5))
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            (
                docs_tbl.join(reps, "doc_id")
                .filter(F.col("cluster_rep") == F.col("doc_id"))
                .filter(T.quality_score("text") >= 0.3)
                .filter(T.lang_id("text").isin("en", "de", "fr", "es"))
                .groupBy(T.lang_id("text").alias("lang_pred"))
                .agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum(T.token_count("text")).cast("bigint").alias("total_tokens"),
                )
                .count()
            )
            best = min(best, time.time() - t0)
        times["training_pipeline_cached"] = round(best, 3)
        print(f"# training_pipeline_cached: {times['training_pipeline_cached']}s", file=sys.stderr)
    except Exception as e:  # noqa: BLE001
        errors["training_pipeline_cached"] = f"{type(e).__name__}: {e}"[:300]


    # The in-run throughput re-measurement runs LAST (its ~600 MB of
    # localCheckpoint blocks would contaminate the similarity joins if it
    # ran earlier) and is DRIFT DATA ONLY — the headline is ALWAYS a
    # fresh-JVM reading (r8 lesson: the in-run artifact understated the
    # kernel 5.6x; a warmed in-run number must never become the
    # headline either).  The in-run readings' one protocol role: if any
    # point ran >1.5x FASTER in-run than isolated, the subprocess
    # demonstrably hit a host burst (observed same-day: 4.8 s isolated
    # vs 1.2 s in-run for the identical kernel) — re-run the isolated
    # subprocess once on the now-idle session and take the per-point
    # min of the two ISOLATED runs.
    inrun_points, inrun_errors = _measure_throughput_points(spark, inrun=True)
    for perr, msg in inrun_errors.items():
        errors[f"inrun_{perr}"] = msg

    rerun_points: set[str] = set()
    if any(
        pname in iso_points
        and pname in inrun_points
        and inrun_points[pname]["wall_sec"]
        < iso_points[pname]["wall_sec"] / 1.5
        for pname in THROUGHPUT_POINT_NAMES
    ):
        # the rerun must actually BE quiet: release this session's
        # ~1.2 GB of in-run corpus/checkpoint blocks first, or the
        # subprocess contends with the parent's resident memory and
        # the "recovered" reading is still inflated
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        time.sleep(5)
        try:
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--isolated-throughput"],
                capture_output=True, text=True, timeout=900, check=True,
            )
            parsed = json.loads(r.stdout.strip().splitlines()[-1])
            for perr, msg in (parsed.pop("errors", None) or {}).items():
                errors[f"iso2_{perr}"] = str(msg)[:300]
            for pname, pt2 in parsed.items():
                if not isinstance(pt2, dict):
                    continue
                pt1 = iso_points.get(pname)
                kept = pt2["wall_sec"] if pt1 is None else min(
                    pt1["wall_sec"], pt2["wall_sec"]
                )
                if pt1 is None or pt2["wall_sec"] < pt1["wall_sec"]:
                    iso_points[pname] = pt2
                rerun_points.add(pname)  # this point HAS two readings
                print(
                    f"# {pname} isolated rerun "
                    f"(burst-triggered): first "
                    f"{pt1['wall_sec'] if pt1 else '—'}s / rerun "
                    f"{pt2['wall_sec']}s -> kept {kept}s",
                    file=sys.stderr,
                )
        except Exception as e:  # noqa: BLE001
            errors["isolated_throughput_rerun"] = (
                f"{type(e).__name__}: {e}"[:300]
            )

    headline_points: dict[str, dict | None] = {}
    for pname in THROUGHPUT_POINT_NAMES:
        iso_pt, inrun_pt = iso_points.get(pname), inrun_points.get(pname)
        if iso_pt is not None:
            pt = dict(iso_pt)
            # per-POINT provenance: only points the rerun actually
            # re-measured claim two readings
            pt["isolation"] = (
                "fresh_jvm (min of 2 subprocess runs)"
                if pname in rerun_points
                else "fresh_jvm"
            )
            if inrun_pt is not None:
                pt["inrun_wall_sec"] = inrun_pt["wall_sec"]
        elif inrun_pt is not None:
            # fallback only — flagged so a reader knows it's contaminated
            pt = dict(inrun_pt)
            pt["isolation"] = "IN-RUN ONLY (isolated subprocess failed)"
        else:
            pt = None
        headline_points[pname] = pt
    point64 = headline_points["knn_batch_100k_1536"]
    point256 = headline_points["knn_batch_100k_1536_q256"]
    point256_f32 = headline_points["knn_batch_100k_1536_q256_f32"]
    point_routed = headline_points["knn_routed_batch_100k_q256"]

    # --- auto-isolation pins (BENCHNOTES protocol as recorded data) ---
    # Any query whose in-run time exceeds 3x its trailing-round median is
    # re-measured in a fresh subprocess JVM (this session is idle now, so
    # never two WORKING JVMs).  The pin distinguishes a real regression
    # from in-run block-manager/session load: r5 chased three such
    # phantoms by hand; this makes the pin automatic.
    pins: dict[str, float] = {}
    trailing = _trailing_medians()
    for name, sec in sorted(times.items(), key=lambda kv: -kv[1]):
        med = trailing.get(name)
        if med is None or med <= 0 or sec <= 3 * med or sec < 1.0:
            continue
        if name not in qs:
            # synthetic bench-section timings (ivf_build, *_cached,
            # probe splits) aren't registry entries — the isolated
            # subprocess can't run them by name
            continue
        try:
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--isolated", name],
                capture_output=True, text=True, timeout=600, check=True,
            )
            pins[name] = float(
                json.loads(r.stdout.strip().splitlines()[-1])["sec"]
            )
            print(
                f"# PIN {name}: in-run {sec}s vs trailing median {med}s"
                f" -> isolated {pins[name]}s",
                file=sys.stderr,
            )
        except Exception as e:  # noqa: BLE001
            errors[f"pin_{name}"] = f"{type(e).__name__}: {e}"[:300]

    total = round(sum(times.values()), 3)
    # The driver's stdout-capture window is ~2 KB; r5's 74-query line
    # outgrew it and BENCH_r05.json recorded "parsed": null.  So: ONE
    # SHORT line (top-10 heavies + totals + throughput) to stdout, and
    # the full per-query map to BENCH_DETAIL.json on disk.
    top10 = dict(sorted(times.items(), key=lambda kv: -kv[1])[:10])
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "n_queries": len(times),
        # control points, kept OUT of the total for round-over-round
        # comparability of `value`
        "ngram_jaccard_isolated": iso_time,
        "isolated_controls": iso_controls,
        # both fresh-JVM readings per control (r13): the recorded
        # band; isolated_controls keeps the min
        "isolated_control_runs": iso_control_runs,
        "isolated_pins": pins,
        "knn_batch_100k_1536": point64,
        "knn_batch_100k_1536_q256": point256,
        "knn_batch_100k_1536_q256_f32": point256_f32,
        "knn_routed_batch_100k_q256": point_routed,
        # graph-tier serving pins (r14): fresh-JVM min-of-2 — the
        # authoritative hnsw serving numbers; the hnsw_* rows in
        # `queries` above are in-run drift data only
        "graph_pins": graph_pins or None,
        # raw in-run readings (session-loaded JVM) — drift data, never
        # the official number
        "throughput_inrun": inrun_points,
    }
    if detail_funnel:
        detail["contains_index_funnel"] = detail_funnel
    if streaming_detail:
        detail["streaming_serving"] = streaming_detail
    if overlap_detail:
        detail["ingest_serve_overlap"] = overlap_detail
    if errors:
        detail["errors"] = errors
    # BENCH_DETAIL.json doubles as the trailing-median pin store for the
    # driver's sf0.1 runs — a local run at another sf must not clobber it
    # (sf0.001 timings would drag every median down and mass-trigger the
    # 3x auto-pin on the next real run).  Off-default sfs get their own
    # side file.
    detail_name = (
        "BENCH_DETAIL.json" if sf == 0.1 else f"BENCH_DETAIL_sf{sf}.json"
    )
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), detail_name
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": top10,
        "sf": sf,
        "n_queries": len(times),
        "n_errors": len(errors),
        "knn_batch_100k_1536": point64,
        "knn_batch_100k_1536_q256": point256,
        "knn_batch_100k_1536_q256_f32": point256_f32,
        "knn_routed_batch_100k_q256": point_routed,
        # compact: seconds only (full dicts in the detail file) — the
        # driver's stdout capture is ~2 KB
        "graph_pins": {
            k: v["wall_sec"] for k, v in graph_pins.items()
        } or None,
        "graph_pin_fixture": (
            os.path.basename(GRAPH_PIN_FIXTURE) if graph_pins else None
        ),
        "detail": detail_name,
    }
    print(json.dumps(out))


def _streaming_serving_bench(
    spark, sf_dir: str, n_batches: int = 8
) -> dict:
    """Per-micro-batch serving latency for the streaming sinks, from
    Spark's StreamingQueryProgress (durationMs.triggerExecution): p50 /
    p95 over ``n_batches`` one-file micro-batches.

    - ``routed_probe_sink``: 16 queries per batch against a SERVED
      IVF index (frozen quantizer, materialized assignment — the
      serving contract; build cost is excluded, it's amortized).
    - ``bloom_gate_sink``: document batches through the bounded
      position-set membership gate (each batch pays the semi-join gate
      + the state-generation rewrite commit)."""
    import statistics
    import tempfile

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from chromem_go_spark.materialize import materialize
    from chromem_go_spark.operators import ann as ANN
    from chromem_go_spark.streaming.ingest import (
        bloom_gate_sink,
        routed_probe_sink,
    )

    def drain_and_stats(writer, rows_per_batch: int) -> dict:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(300)
        if q.isActive:
            q.stop()
        progs = [
            p if isinstance(p, dict) else json.loads(p.json)
            for p in q.recentProgress
        ]
        durs = [
            float(p["durationMs"]["triggerExecution"])
            for p in progs
            if int(p.get("numInputRows", 0)) > 0
        ]
        durs.sort()
        import math

        # nearest-rank p95: ceil(0.95 n)-th value (for n=8 that's the
        # max — int(n*0.95)-1 would quietly report the 87.5th pct)
        p95_idx = min(len(durs) - 1, max(0, math.ceil(len(durs) * 0.95) - 1))
        return {
            "n_batches": len(durs),
            "rows_per_batch": rows_per_batch,
            "p50_ms": round(statistics.median(durs), 1),
            "p95_ms": round(durs[p95_idx], 1),
            "max_ms": round(durs[-1], 1),
        }

    out: dict[str, dict] = {}
    root = tempfile.mkdtemp(prefix="stream_bench_")

    # ---- routed probe over a served IVF tier: 16 queries per batch
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = ANN.IVFIndex.build(
        emb, n_clusters=16, vec_col="embedding", id_col="vec_id"
    )
    idx.assigned = materialize(idx.assigned)
    qpb = 16
    qtab = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    ).slice(0, n_batches * qpb)
    qdir = f"{root}/queries"
    os.makedirs(qdir)
    for b in range(n_batches):
        pq.write_table(qtab.slice(b * qpb, qpb), f"{qdir}/b{b:03d}.parquet")
    schema = spark.read.parquet(qdir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(qdir)
    )
    out["routed_probe_sink_ivf"] = drain_and_stats(
        routed_probe_sink(
            stream, idx, f"{root}/probe_results", f"{root}/probe_ckpt",
            k=10, target_recall=0.95,
        ),
        qpb,
    )

    # ---- bloom gate over a document stream
    docs_tab = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    dpb = max(1, min(400, docs_tab.num_rows // n_batches))
    ddir = f"{root}/docs"
    os.makedirs(ddir)
    for b in range(n_batches):
        pq.write_table(
            docs_tab.slice(b * dpb, dpb), f"{ddir}/b{b:03d}.parquet"
        )
    dschema = spark.read.parquet(ddir).schema
    dstream = (
        spark.readStream.schema(dschema)
        .option("maxFilesPerTrigger", 1)
        .parquet(ddir)
    )
    out["bloom_gate_sink"] = drain_and_stats(
        bloom_gate_sink(
            dstream, f"{root}/bloom_state", f"{root}/bloom_results",
            f"{root}/bloom_ckpt", text_col="text", id_col="doc_id",
        ),
        dpb,
    )

    import shutil

    shutil.rmtree(root, ignore_errors=True)
    # free the served assignment cache before the rest of the run
    try:
        idx.assigned.unpersist()
    except Exception:
        pass
    return out


def _ingest_serve_overlap_bench(
    spark, n_docs: int = 20_000, dim: int = 256
) -> dict:
    """Serving latency UNDER ingest (r14, VERDICT ask #5): the r9
    streaming numbers measure serving against a QUIET index; the real
    sharded-tier question is what a query pays while
    ``sharded_hnsw_append_sink`` is appending — and across an
    auto_split.  One measured overlap run: build a 4-cell centroid
    root on 60% of a synthetic corpus, stream the rest through the
    sink (async auto_split, the r14 default, sized so a hot cell
    splits mid-stream), and serve q=16 batches from the driver's main
    thread the whole time.  Serves classify by the split lifecycle
    observed at serve start — ``before`` (no split yet), ``during``
    (a ``_split_stage_*`` staging dir exists: a sub-cell rebuild is
    in flight), ``after`` (the manifest holds a retired cell) — and
    report nearest-rank p50/p95 per phase.  local[N] runs ingest
    triggers and serve jobs through one FIFO scheduler, so the
    'during' numbers INCLUDE queue-behind-trigger time — the honest
    single-cluster answer.  A trigger a split commit races fails with
    SplitRacedError by contract; the bench restarts from the same
    checkpoint exactly like an operator would (replay is
    exactly-once) and keeps serving through the restart."""
    import math
    import shutil
    import statistics
    import tempfile

    from chromem_go_spark.operators import hnsw as H
    from chromem_go_spark.streaming.ingest import sharded_hnsw_append_sink

    def pctl(vals: list[float], q: float) -> float:
        vs = sorted(vals)
        return round(vs[min(len(vs) - 1, max(0, math.ceil(len(vs) * q) - 1))], 1)

    work = tempfile.mkdtemp(prefix="overlap_bench_")
    root = f"{work}/root"
    try:
        corpus = _synth_corpus(spark, n_docs, dim).localCheckpoint(
            eager=True
        )
        cut = int(n_docs * 0.6)
        from pyspark.sql import functions as F

        cap = int(n_docs * 0.3)  # never binds; split_at*cap does
        H.build_sharded_hnsw(
            corpus.filter(F.col("id") < cut), root, n_shards=4,
            vec_col="embedding", id_col="id", shard_by="centroid",
            max_points_per_shard=cap,
        )
        qrows = corpus.filter(F.col("id") < 16).collect()
        qids = [str(r["id"]) for r in qrows]
        qvecs = [[float(x) for x in r["embedding"]] for r in qrows]

        import pyarrow as pa
        import pyarrow.parquet as pq

        feed = f"{work}/feed"
        os.makedirs(feed)
        rest = corpus.filter(F.col("id") >= cut).collect()
        per = max(1, len(rest) // 20)  # ~20 triggers
        for b, fi in enumerate(range(0, len(rest), per)):
            chunk = rest[fi:fi + per]
            pq.write_table(
                pa.table(
                    {
                        "id": pa.array(
                            [int(r["id"]) for r in chunk], pa.int64()
                        ),
                        "embedding": pa.array(
                            [[float(x) for x in r["embedding"]]
                             for r in chunk],
                            pa.list_(pa.float32()),
                        ),
                    }
                ),
                f"{feed}/b{b:03d}.parquet",
            )

        lat: list[tuple[str, float]] = []

        def serve_once() -> None:
            staging = any(
                name.startswith("_split_stage_")
                for name in os.listdir(root)
            )
            retired = bool(H.load_sharded_meta(root).get("retired"))
            phase = (
                "during" if staging else ("after" if retired else "before")
            )
            t0 = time.time()
            n = H.sharded_search_batch(
                spark, root, qids, qvecs, 10, ef=64
            ).count()
            assert n == 16 * 10, n
            lat.append((phase, (time.time() - t0) * 1000.0))

        trigger_ms: list[float] = []
        restarts = 0
        for attempt in range(4):
            stream = (
                spark.readStream.schema(
                    "id long, embedding array<float>"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(feed)
            )
            q = (
                sharded_hnsw_append_sink(
                    stream, root, f"{work}/ckpt",
                    vec_col="embedding", id_col="id",
                    auto_split=True, split_at=0.65,
                    query_name="overlap_bench_ingest",
                )
                .trigger(availableNow=True)
                .start()
            )
            while q.isActive:
                serve_once()
                time.sleep(0.05)
            for p in q.recentProgress:
                prog = p if isinstance(p, dict) else json.loads(p.json)
                if int(prog.get("numInputRows", 0)) > 0:
                    trigger_ms.append(
                        float(prog["durationMs"]["triggerExecution"])
                    )
            if q.exception() is None:
                break
            restarts += 1  # SplitRacedError by contract — replay
        # the daemon split may still be in flight after the drain:
        # keep serving until it commits (bounded), then a few
        # quiet-index serves so 'after' always has samples
        deadline = time.time() + 60
        while time.time() < deadline and not (
            H.load_sharded_meta(root).get("retired")
        ):
            serve_once()
            time.sleep(0.2)
        fallback_sync_split = False
        if not H.load_sharded_meta(root).get("retired"):
            # daemon retries exhausted before the drain; the sink's
            # documented degraded path is the NEXT trigger's
            # synchronous split, which an availableNow drain never
            # runs — invoke it directly (recorded honestly below)
            fallback_sync_split = True
            m_now = H.load_sharded_meta(root)
            hot = max(m_now["shards"], key=lambda sn: int(sn[1]))[0]
            try:
                H.split_shard(spark, root, int(hot))
            except (H.SplitRacedError, ValueError):
                pass  # the daemon landed it between the poll and here
        for _ in range(5):
            serve_once()
        split_committed = bool(H.load_sharded_meta(root).get("retired"))
        phases: dict[str, dict] = {}
        for phase in ("before", "during", "after"):
            vals = [ms for p, ms in lat if p == phase]
            if vals:
                phases[phase] = {
                    "n_serves": len(vals),
                    "p50_ms": pctl(vals, 0.5),
                    "p95_ms": pctl(vals, 0.95),
                    "max_ms": round(max(vals), 1),
                }
        return {
            "n_docs": n_docs, "dim": dim, "n_shards_built": 4,
            "n_queries": 16, "k": 10, "ef": 64,
            "split_committed": split_committed,
            "fallback_sync_split": fallback_sync_split,
            "stream_restarts_on_split_race": restarts,
            "ingest_trigger_p50_ms": (
                pctl(trigger_ms, 0.5) if trigger_ms else None
            ),
            "phases": phases,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _trailing_medians() -> dict[str, float]:
    """Per-query median over prior rounds' recorded timings: the committed
    BENCH_DETAIL.json (full map, written since r6) plus every parseable
    BENCH_r*.json `parsed.queries` block."""
    import statistics

    here = os.path.dirname(os.path.abspath(__file__))
    series: dict[str, list[float]] = {}

    def feed(queries: dict) -> None:
        for k, v in queries.items():
            if isinstance(v, (int, float)):
                series.setdefault(k, []).append(float(v))

    import glob

    for p in sorted(glob.glob(os.path.join(here, "BENCH_r*.json"))):
        try:
            parsed = json.load(open(p)).get("parsed")
            if parsed and isinstance(parsed.get("queries"), dict):
                feed(parsed["queries"])
        except Exception:  # noqa: BLE001
            continue
    p = os.path.join(here, "BENCH_DETAIL.json")
    if os.path.exists(p):
        try:
            data = json.load(open(p))
            if data.get("sf") == 0.1:  # medians are sf0.1-only
                feed(data.get("queries", {}))
        except Exception:  # noqa: BLE001
            pass
    return {k: statistics.median(v) for k, v in series.items() if v}


def _synth_corpus(spark, n_docs: int, dim: int, seed: int = 42):
    """Deterministic synthetic corpus matching the reference benchmark
    (seeded rand, d=1536, normalized vectors — reference
    collection_test.go:665-674), generated distributed."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rng = np.random.default_rng(seed + int(ids[0]))
            mat = rng.standard_normal((len(ids), dim))
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            yield pd.DataFrame(
                {"id": ids, "embedding": list(mat.astype(np.float32))}
            )

    return (
        spark.range(n_docs, numPartitions=32)
        .mapInPandas(gen, "id long, embedding array<float>")
    )


if __name__ == "__main__":
    main()
