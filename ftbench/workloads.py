"""The workloads. Each drives the engine only through its public calls,
times them from outside, checks the outputs outside the timed region and
returns ``(end-to-end metrics, per-layer metrics, notes for the report)``.

Sizes are set for a 4-core host on which every run of every workload,
each with its own Spark session start and cold build, must fit the
benchmark's time budget: the corpora are a few thousand pages.
"""

from __future__ import annotations

import gc
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import median, peak_rss_mb, tail

if not __debug__:  # the oracle's rank comparison is a chain of asserts
    raise RuntimeError("ftbench's output checks need assertions: run without -O")

N_DOCS = 3000
BUCKET_DOCS = 128  # 24 buckets; a topic spans about 1.5 on the clustered corpus
CHUNK_DOCS = 768  # the build commits 4 postings chunks
HTML_ONLY_SHARE = 0.3  # rows whose text is NULL, so the build extracts html
K = 20
N_BATCH_QUERIES = 225
POOL_PER_CLASS = 40
# requests/s: about 12% of one client's capacity (~500/s). Nearer half
# of it, the wait behind boolean requests amplifies the host's speed swings
# into the p50 and p95 (several-fold at half, ±30% of p95 at 20%)
SERVE_RATE = 60.0
# of the query workload's window; the batch rounds get the rest. At 14 s
# that is 546 requests, so the supported tail is p95 (p99 would rest on 5)
SERVE_SHARE = 0.65
# boolean/phrase queries read posting blobs without the block cache and
# cost 10-30x a ranked one, so they get a small share of the mix. The
# shares keep p50 inside the broad class and p95 inside the boolean one,
# not on a boundary between classes, where a small shift moves them far
CLASS_SHARES = {"selective": 0.35, "broad": 0.55, "boolean": 0.10}
ORACLE_SAMPLE = 4  # ranked queries per scorer checked against the oracle
VARBYTE_SAMPLE = 3000  # posting blobs decoded and re-encoded per traced run


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------

def make_pages(run, clustered: bool, html_only_share: float) -> tuple[str, dict]:
    """Materialize a seeded pages table to parquet. The seed picks a
    disjoint ``page_row`` range. Rows are written url-sorted, each file a
    disjoint url range: the sorted-crawl shape on which the build assigns
    doc ids without a shuffle. Returns (path, {url: text}) where text is
    the page's words even when the table carries only its html."""
    from searchengine_spark.corpus import page_row

    lo = run.seed * N_DOCS
    rng = np.random.default_rng(run.seed)
    html_only = rng.random(N_DOCS) < html_only_share
    rows = sorted((page_row(lo + i, clustered) for i in range(N_DOCS)), key=lambda r: r[0])
    truth = {r[0]: r[3] for r in rows}
    cols = list(zip(*rows))
    text = [None if h else t for h, t in zip(html_only, cols[3])]
    table = pa.table(
        {
            "url": pa.array(cols[0], pa.string()),
            "warc_ts": pa.array(cols[1], pa.timestamp("us", tz="UTC")),
            "html": pa.array(cols[2], pa.binary()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(cols[4], pa.string()),
        }
    )
    path = os.path.join(run.work, "pages")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-N_DOCS // 4)
    for i in range(0, N_DOCS, step):
        pq.write_table(table.slice(i, step), os.path.join(path, f"part-{i:06d}.parquet"))
    return path, truth


def read_lexicon(index: str) -> dict[str, int]:
    t = pq.read_table(os.path.join(index, "lexicon"), columns=["term", "df"])
    return dict(zip(t["term"].to_pylist(), t["df"].to_pylist()))


def vocabulary(lex: dict[str, int]) -> list[tuple[str, int]]:
    """Corpus words whose ranked-query stem is in the built lexicon, with
    that stem's df, most frequent first."""
    from searchengine_spark.corpus import _VOCAB
    from searchengine_spark.query.exec import expand_ranked_query

    out = []
    for w in _VOCAB:
        t = expand_ranked_query(w)
        if len(t) == 1 and t[0] in lex:
            out.append((w, lex[t[0]]))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out


def batch_queries(seed: int, vocab: list[tuple[str, int]]) -> list[tuple[int, str]]:
    """Cranfield-shaped set (the shapes of ``corpus.generate_queries``)
    drawn from the built lexicon: single words, bags, OR, NOT, phrases,
    hyphens, apostrophes, absent terms and stopword-only queries."""
    rng = np.random.default_rng((seed, 1))
    head = [w for w, _ in vocab[:200]]

    def pick(k: int) -> list[str]:
        return [head[j] for j in rng.choice(len(head), k, replace=False)]

    out = []
    for qid in range(N_BATCH_QUERIES):
        kind = qid % 9
        if kind == 0:
            q = pick(1)[0]
        elif kind == 1:
            q = " ".join(pick(int(rng.integers(2, 5))))
        elif kind == 2:
            q = " + ".join(" ".join(pick(2)) for _ in range(2))
        elif kind == 3:
            a, b, c = pick(3)
            q = f"{a} {b} -{c}"
        elif kind == 4:
            q = '"' + " ".join(pick(2)) + '"'
        elif kind == 5:
            a, b = pick(2)
            q = f"{a}-{b}"
        elif kind == 6:
            q = "don't " + pick(1)[0]
        elif kind == 7:
            q = "zzzzabsent " + pick(1)[0]
        else:
            q = " ".join(head[:2])
        out.append((qid, q))
    return out


def serve_pool(seed: int, vocab: list[tuple[str, int]], truth: dict) -> dict[str, list[str]]:
    """Per-class query pools for the serving tier.

    selective: 2-3 words of one topic's vocabulary slice. On the clustered
      corpus a topic is a contiguous doc range, so block-max pruning skips
      most buckets.
    broad: one head term and two mid-df terms, present in every bucket, so
      pruning is bypassed.
    boolean: AND, OR and NOT of two mid-df terms, and a two-word phrase
      copied from a page, through ``boolean_query``. Its cost grows with
      the result size, so its terms come from a narrow df band (vocabulary
      ranks 80-160): the p95 is about the class median, and a wider band
      let each seed's draw move it."""
    from searchengine_spark.corpus import _N_TOPICS, _TOPIC_BASE, _TOPIC_SLICE, _VOCAB

    rng = np.random.default_rng((seed, 2))
    present = {w for w, _ in vocab}
    head = [w for w, _ in vocab[:20]]
    mid = [w for w, _ in vocab[20:200]]
    band = [w for w, _ in vocab[80:160]]
    selective, broad, boolean = [], [], []
    for _ in range(POOL_PER_CLASS):
        t = int(rng.integers(0, _N_TOPICS))
        lo = _TOPIC_BASE + t * _TOPIC_SLICE
        words = [w for w in _VOCAB[lo : lo + 15] if w in present]
        k = min(int(rng.integers(2, 4)), len(words))
        selective.append(" ".join(rng.choice(words, k, replace=False)))
        broad.append(
            " ".join([head[int(rng.integers(len(head)))]]
                     + list(rng.choice(mid, 2, replace=False)))
        )
    in_band = set(band)
    pairs = sorted(
        {(a, b) for t in truth.values() for a, b in zip(t.split(" "), t.split(" ")[1:])
         if a in in_band and b in in_band and a != b}
    )
    for i in range(POOL_PER_CLASS):
        a, b = rng.choice(band, 2, replace=False)
        kind = i % 4
        if kind == 0:
            boolean.append(f"{a} {b}")
        elif kind == 1:
            boolean.append(f"{a} + {b}")
        elif kind == 2:
            boolean.append(f"{a} -{b}")
        else:
            boolean.append('"%s %s"' % pairs[int(rng.integers(len(pairs)))])
    return {"selective": selective, "broad": broad, "boolean": boolean}


# --------------------------------------------------------------------------
# engine calls, each inside a span
# --------------------------------------------------------------------------

def build_index(run, pages: str, out: str) -> tuple[dict, float]:
    from searchengine_spark.index.build import IndexBuilder

    shutil.rmtree(out, ignore_errors=True)
    with run.span("index.build"), run.stages.group("build"):
        t0 = time.perf_counter()
        stats = IndexBuilder(
            run.spark, out, bucket_docs=BUCKET_DOCS, chunk_docs=CHUNK_DOCS
        ).build(run.spark.read.parquet(pages))
        return stats, time.perf_counter() - t0


def run_batch(run, handle, queries, scorer: str, impl: str | None = None):
    """One ``ranked_topk_batch`` call to collected rows: (plan_s, exec_s,
    {qid: [(doc_id, score)] in rank order})."""
    from searchengine_spark.query.exec import ranked_topk_batch

    with run.span("query.exec.plan"):
        t0 = time.perf_counter()
        df = ranked_topk_batch(handle, queries, k=K, scorer=scorer, impl=impl)
        t1 = time.perf_counter()
    with run.span("query.exec.execute"), run.stages.group("batch"):
        rows = df.collect()
        t2 = time.perf_counter()
    got: dict[int, list] = {qid: [] for qid, _ in queries}
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        got[r["qid"]].append((r["doc_id"], r["score"]))
    return t1 - t0, t2 - t1, got


def live_terms(handle, queries) -> int:
    from searchengine_spark.query.exec import expand_ranked_query

    terms = {t for _, q in queries for t in expand_ranked_query(q)}
    return len(handle.term_dfs(sorted(terms)))


def serve_one(run, reader, cls: str, q: str, stats: dict | None = None):
    if cls == "boolean":
        with run.span("query.boolean"):
            return [r["doc_id"] for r in reader.boolean_query(q)]
    with run.span("query.serve.ranked_topk"):
        return [(r["doc_id"], r["score"]) for r in reader.ranked_topk(q, k=K, stats=stats)]


def open_reader(run, index: str):
    from searchengine_spark.query.serve import LocalIndexReader

    with run.span("query.serve.open"):
        t0 = time.perf_counter()
        reader = LocalIndexReader(index)
        return reader, time.perf_counter() - t0


class PruneStats:
    """Sums of the ``stats=`` dicts ``ranked_topk`` fills."""

    def __init__(self) -> None:
        self.queries = self.buckets = self.pruned = self.survivors = 0

    def add(self, st: dict) -> None:
        if st:
            self.queries += 1
            self.buckets += st.get("n_buckets", 0)
            self.pruned += st.get("pruned", 0)
            self.survivors += st.get("survivors", 0)

    def layers(self) -> dict[str, float]:
        q = max(self.queries, 1)
        return {
            "query.serve.buckets_per_query": self.buckets / q,
            "query.serve.pruned_share": self.pruned / max(self.buckets, 1),
            "query.serve.survivors_per_query": self.survivors / q,
        }


def pool_pass(run, reader, pool, prune: PruneStats | None = None) -> dict[str, list]:
    """One pass over the serve pool: per class, seconds per query."""
    out: dict[str, list] = {}
    for cls, qs in pool.items():
        xs = out[cls] = []
        for q in qs:
            st: dict = {}
            t0 = time.perf_counter()
            serve_one(run, reader, cls, q, st)
            xs.append(time.perf_counter() - t0)
            if prune is not None:
                prune.add(st)
    return out


# --------------------------------------------------------------------------
# checks (outside timed regions)
# --------------------------------------------------------------------------

def rank_identical(a: list, b: list) -> bool:
    from searchengine_spark.oracle.refmodel import assert_rank_identical

    try:
        assert_rank_identical(a, b, rel_tol=1e-9)
    except AssertionError:
        return False
    return True


def oracle_index(run, truth: dict):
    import pandas as pd

    from searchengine_spark.oracle.refmodel import build_oracle_index

    with run.span("oracle.build"):
        return build_oracle_index(
            pd.DataFrame({"url": list(truth), "text": list(truth.values())})
        )


def check_index(run, index: str, stats: dict, oidx) -> None:
    """n_docs, Σ lexicon df against the build's postings count, and the
    lexicon against the oracle's (term, df)."""
    lex = read_lexicon(index)
    run.check(stats["n_docs"] == N_DOCS, f"build n_docs {stats['n_docs']}")
    posted = sum(c["postings"] for c in stats["chunks"])
    run.check(sum(lex.values()) == posted, f"Σdf {sum(lex.values())} != postings {posted}")
    want = {t: len(p) for t, p in oidx.index.items()}
    run.check(lex == want, "lexicon differs from the oracle's")


def oracle_sample(run, queries) -> list[tuple[int, str]]:
    """A seeded sample of the non-empty ranked queries."""
    rng = np.random.default_rng((run.seed, 3))
    live = [qq for qq in queries if qq[1].strip()]
    idx = rng.choice(len(live), min(ORACLE_SAMPLE, len(live)), replace=False)
    return [live[int(i)] for i in sorted(idx)]


def check_oracle(run, oidx, sample, scorer: str, got: dict[int, list]) -> None:
    """Ranked results ``got[qid]`` of the sampled queries against the
    reference oracle."""
    from searchengine_spark.oracle.refmodel import ranked_topk_oracle

    for qid, q in sample:
        with run.span("oracle.ranked"):
            want = ranked_topk_oracle(oidx, q, k=K, scorer=scorer)
        run.check(rank_identical(got[qid], want), f"oracle {scorer} {q!r}")


def check_boolean(run, oidx, queries: list[str], got: dict[str, list]) -> None:
    from searchengine_spark.oracle.boolmodel import boolean_query_oracle

    for q in queries:
        with run.span("oracle.boolean"):
            want = boolean_query_oracle(oidx, q)
        run.check(got[q] == want, f"boolean {q!r}")


# --------------------------------------------------------------------------
# per-layer measurements shared by every workload's traced run
# --------------------------------------------------------------------------

def index_bytes(index: str) -> dict[str, float]:
    """On-disk bytes of each index table; the forward-index ``terms``
    column of ``docs`` from the parquet footers."""
    out = {}
    for table in ("docs", "postings", "lexicon"):
        total = terms = 0
        for d, _, files in os.walk(os.path.join(index, table)):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                p = os.path.join(d, f)
                total += os.path.getsize(p)
                if table == "docs":
                    md = pq.ParquetFile(p).metadata
                    for g in range(md.num_row_groups):
                        rg = md.row_group(g)
                        for c in range(rg.num_columns):
                            col = rg.column(c)
                            if col.path_in_schema.split(".")[0] == "terms":
                                terms += col.total_compressed_size
        out[f"index.build.{table}_bytes"] = float(total)
        if table == "docs":
            out["index.build.docs_terms_bytes"] = float(terms)
    t = pq.read_table(os.path.join(index, "lexicon"), columns=["df", "n_blocks"])
    out["index.build.blocks"] = float(pa.compute.sum(t["n_blocks"]).as_py())
    out["index.build.postings"] = float(pa.compute.sum(t["df"]).as_py())
    return out


def disk_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def build_phases(stats_list: list[dict]) -> dict[str, float]:
    out = {}
    for ph in ("id_stats", "docs", "postings", "lexicon"):
        out[f"index.build.{ph}_s"] = median(s["phase_secs"][ph] for s in stats_list)
    return out


def varbyte_layers(run, index: str) -> dict[str, float]:
    """Codec throughput over a seeded sample of the index's own blobs:
    decode MB/s of encoded input, encode MB/s of encoded output. The
    re-encoded bytes must equal the stored ones."""
    from searchengine_spark.index.varbyte import decode_sorted, encode_sorted, vb_decode, vb_encode

    t = pq.read_table(os.path.join(index, "postings"), columns=["docs_vb", "tfs_vb"])
    rng = np.random.default_rng((run.seed, 4))
    rows = rng.choice(t.num_rows, min(VARBYTE_SAMPLE, t.num_rows), replace=False)
    dvb = [t["docs_vb"][int(i)].as_py() for i in rows]
    tvb = [t["tfs_vb"][int(i)].as_py() for i in rows]
    nbytes = sum(map(len, dvb)) + sum(map(len, tvb))
    with run.span("index.varbyte.decode"):
        t0 = time.perf_counter()
        docs = [decode_sorted(b) for b in dvb]
        tfs = [vb_decode(b) for b in tvb]
        dec = time.perf_counter() - t0
    with run.span("index.varbyte.encode"):
        t0 = time.perf_counter()
        edocs = [encode_sorted(a) for a in docs]
        etfs = [vb_encode(a) for a in tfs]
        enc = time.perf_counter() - t0
    run.check(edocs == dvb and etfs == tvb, "varbyte re-encode differs", len(rows))
    return {
        "index.varbyte.decode_mb_per_s": nbytes / 1e6 / dec,
        "index.varbyte.encode_mb_per_s": nbytes / 1e6 / enc,
    }


def udf_layers(run, pages: str) -> dict[str, float]:
    """The text kernels timed alone: each runs over the pages table into a
    ``noop`` sink."""
    from pyspark.sql import functions as F

    from searchengine_spark.text.udfs import extract_text, tokenized_docs_arrow

    df = run.spark.read.parquet(pages)
    text = df.select(F.coalesce("text", extract_text("html")).alias("text")).cache()
    text.count()
    out = {}
    jobs = (
        ("extract", lambda: df.select(extract_text("html").alias("t"))),
        ("tokenize", lambda: tokenized_docs_arrow(text, passthrough=())),
    )
    for name, make in jobs:
        with run.span(f"text.udfs.{name}"):
            t0 = time.perf_counter()
            make().write.format("noop").mode("overwrite").save()
            out[f"text.udfs.{name}_s"] = time.perf_counter() - t0
    text.unpersist()
    return out


def spark_layers(run) -> dict[str, float]:
    """Per call of each kind: executor run and CPU seconds, shuffle-write
    and input bytes, completed stages."""
    by = run.stages.by_kind()
    out = {}
    for kind in ("build", "batch"):
        m = by[kind]
        for key in ("executor_run_s", "cpu_s", "shuffle_write_bytes", "input_bytes", "stages"):
            out[f"spark.{kind}.{key}"] = float(m[key]) / m["calls"]
    return out


def closed_loop(run, op, seconds: float) -> tuple[list, list, dict]:
    """Run ``op(i)`` back to back while the next op is expected to end
    within ``seconds``, at least twice. In a traced run every other op,
    starting with the first, runs with tracing off, and at least four run,
    for the overhead. Returns (op seconds, op results, loop record)."""
    lat, res, late, tr, un = [], [], [], [], []
    min_ops = 4 if run.trace else 2
    gc.collect()  # set-up's garbage is not the timed calls' to collect
    t_start = due = time.perf_counter()
    i = 0
    while i < min_ops or (due - t_start) + lat[-1] <= seconds:
        traced = run.trace and i % 2 == 1
        run.tracer.enabled = traced
        t0 = time.perf_counter()
        late.append(t0 - due)
        res.append(op(i))
        due = time.perf_counter()
        lat.append(due - t0)
        (tr if traced else un).append(due - t0)
        i += 1
    run.tracer.enabled = run.trace
    wall = time.perf_counter() - t_start
    return lat, res, {"wall": wall, "busy": sum(lat), "late": late, "traced": tr, "untraced": un}


def compact(got: list) -> tuple[bytes, bytes]:
    """A response as (doc ids, scores) bytes; boolean responses carry no
    scores."""
    if got and isinstance(got[0], tuple):
        d, sc = zip(*got)
        return np.asarray(d, np.int64).tobytes(), np.asarray(sc, np.float64).tobytes()
    return np.asarray(got, np.int64).tobytes(), b""


def expand(resp: tuple[bytes, bytes]) -> list:
    d = np.frombuffer(resp[0], np.int64).tolist()
    if not resp[1]:
        return d
    return list(zip(d, np.frombuffer(resp[1], np.float64).tolist()))


def open_loop(run, reader, plan, rate: float) -> tuple[list, list, dict, dict]:
    """Send ``plan``'s (class, query) requests at a fixed ``rate`` from one
    thread; each request is timed from when it was due. Returns (latency
    per request, responses, loop record, per-class service seconds)."""
    lat, res, late, tr, un = [], [], [], [], []
    per_class: dict[str, list] = {}
    prune = PruneStats()
    # set-up leaves enough live objects to trigger a full collection in the
    # first second of the loop, a 30-40 ms stall that is not the engine's
    gc.collect()
    t_start = time.perf_counter()
    for i, (cls, q) in enumerate(plan):
        due = t_start + i / rate
        now = time.perf_counter()
        if now < due:
            time.sleep(due - now)
        traced = run.trace and i % 2 == 1
        run.tracer.enabled = traced
        st: dict = {}
        t1 = time.perf_counter()
        got = serve_one(run, reader, cls, q, st)
        t2 = time.perf_counter()
        # kept as untracked bytes: thousands of held result lists would
        # make the interpreter's cyclic GC, not the engine, set the tail
        res.append(compact(got))
        late.append(t1 - due)
        lat.append(t2 - due)
        per_class.setdefault(cls, []).append(t2 - t1)
        (tr if traced else un).append(t2 - t1)
        prune.add(st)
    run.tracer.enabled = run.trace
    wall = time.perf_counter() - t_start
    busy = sum(tr) + sum(un)
    loop = {"wall": wall, "busy": busy, "late": late, "traced": tr, "untraced": un,
            "offered": len(plan) / wall, "capacity": len(plan) / busy, "prune": prune}
    return lat, res, loop, per_class


def request_plan(seed: int, pool: dict, n: int) -> list[tuple[str, str]]:
    """(class, query) per request: exact class shares, shuffled over time,
    each class cycling through a seeded permutation of its pool."""
    rng = np.random.default_rng((seed, 5))
    counts = {c: int(round(CLASS_SHARES[c] * n)) for c in sorted(pool)}
    seq = np.array([c for c, k in counts.items() for _ in range(k)])
    rng.shuffle(seq)
    order = {c: rng.permutation(len(pool[c])) for c in counts}
    used = dict.fromkeys(counts, 0)
    out = []
    for c in seq:
        out.append((c, pool[c][order[c][used[c] % len(pool[c])]]))
        used[c] += 1
    return out


def exec_layers(per: dict[str, list], handle, queries) -> dict[str, float]:
    """``query.exec`` from (plan_s, execute_s) per batch call, by scorer."""
    out = {"query.exec.live_terms": float(live_terms(handle, queries))}
    for sc, key in (("bm25", "bm25"), ("tfidf_ref", "tfidf")):
        out[f"query.exec.{key}_qps"] = len(queries) / median(p + e for p, e in per[sc])
    out["query.exec.plan_s"] = median(p for v in per.values() for p, _ in v)
    out["query.exec.execute_s"] = median(e for v in per.values() for _, e in v)
    return out


def loop_layers(loop: dict) -> dict[str, float]:
    return {
        "loadgen.busy_share": loop["busy"] / loop["wall"],
        "loadgen.late_p99_ms": tail(loop["late"])[1] * 1e3,
        "trace.overhead_share": median(loop["traced"]) / median(loop["untraced"]) - 1.0,
    }


def common_layers(run, pages: str, index: str, build_stats: list[dict]) -> dict[str, float]:
    """Layers every workload's traced run reports the same way."""
    out = {}
    with run.span("probe"):
        out.update(udf_layers(run, pages))
        out.update(varbyte_layers(run, index))
    out.update(build_phases(build_stats))
    out.update(index_bytes(index))
    out.update(spark_layers(run))
    return out


def e2e(run, setup_s: float, throughput: float, lat: list, index: str, truth: dict) -> dict:
    return {
        "setup_s": setup_s,
        "throughput_per_s": throughput,
        "latency_p50_ms": median(lat) * 1e3,
        "latency_tail_ms": tail(lat)[1] * 1e3,
        "index_bytes_per_text_byte": disk_bytes(index)
        / sum(len(t.encode("utf-8")) for t in truth.values()),
        "peak_rss_mb": peak_rss_mb(run.spark),
    }


def setup_index(run, clustered: bool, html_only_share: float):
    with run.span("corpus.pages"):
        pages, truth = make_pages(run, clustered, html_only_share)
    index = os.path.join(run.work, "index")
    stats, _ = build_index(run, pages, index)
    return pages, truth, index, stats


def ranked_serve(run, reader, queries, scorer: str) -> dict[int, list]:
    return {
        qid: [(r["doc_id"], r["score"]) for r in reader.ranked_topk(q, k=K, scorer=scorer)]
        for qid, q in queries
    }


def batch_round(run, handle, queries, per: dict) -> dict:
    """One bm25 (scatter-gather kernel) and one tfidf_ref (exchange plan)
    batch; appends (plan_s, execute_s) to ``per[scorer]``."""
    out = {}
    for scorer in ("bm25", "tfidf_ref"):
        plan, ex, got = run_batch(run, handle, queries, scorer)
        per[scorer].append((plan, ex))
        out[scorer] = got
    return out


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

def build(run, t_session: float):
    """Chunked builds of a uniform pages table in which a seeded share of
    rows carries only html, back to back. No query layer runs in the
    timed region.

    throughput_per_s: docs indexed per build second.
    latency_*: one ``IndexBuilder.build`` call."""
    t0 = time.perf_counter()
    with run.span("setup"):
        pages, truth, warm, _ = setup_index(run, False, HTML_ONLY_SHARE)
        # the JVM keeps compiling through the second build, which runs
        # about 20% slower than the third
        build_index(run, pages, warm)
    setup_s = t_session + time.perf_counter() - t0
    shutil.rmtree(warm, ignore_errors=True)

    outs = [os.path.join(run.work, f"index-{i}") for i in range(2)]

    def op(i):
        return build_index(run, pages, outs[i % 2])[0]

    with run.span("measure"):
        lat, stats, loop = closed_loop(run, op, run.seconds)
    index = outs[(len(stats) - 1) % 2]  # the last build's index is intact

    with run.span("check"):
        oidx = oracle_index(run, truth)
        check_index(run, index, stats[-1], oidx)
        want = sum(c["postings"] for c in stats[-1]["chunks"])
        for s in stats[:-1]:
            run.check(
                s["n_docs"] == N_DOCS and sum(c["postings"] for c in s["chunks"]) == want,
                "builds disagree",
            )
        reader, _ = open_reader(run, index)
        vocab = vocabulary(read_lexicon(index))
        queries = batch_queries(run.seed, vocab)
        sample = oracle_sample(run, queries)
        for sc in ("bm25", "tfidf_ref"):
            check_oracle(run, oidx, sample, sc, ranked_serve(run, reader, sample, sc))

    docs_per_s = N_DOCS * len(stats) / sum(lat)
    layers = {}
    if run.trace:
        from searchengine_spark.query.exec import IndexHandle

        # the query layers this workload leaves idle, probed once
        with run.span("probe"):
            handle = IndexHandle(run.spark, index)
            per = {"bm25": [], "tfidf_ref": []}
            batch_round(run, handle, queries, per)
            layers.update(exec_layers(per, handle, queries))
            pool = serve_pool(run.seed, vocab, truth)
            reader, open_s = open_reader(run, index)
            cold = pool_pass(run, reader, pool)
            prune = PruneStats()
            for cls, xs in pool_pass(run, reader, pool, prune).items():
                layers[f"query.serve.{cls}_p50_ms"] = median(xs) * 1e3
        layers["query.serve.open_s"] = open_s
        layers["query.serve.cold_p50_ms"] = median(x for xs in cold.values() for x in xs) * 1e3
        layers.update(prune.layers())
        layers.update(common_layers(run, pages, index, stats))
        layers.update(loop_layers(loop))
    notes = {"build_docs_per_s": docs_per_s, "build seconds": [round(x, 3) for x in lat],
             "latency_tail": tail(lat)[0]}
    return e2e(run, setup_s, docs_per_s, lat, index, truth), layers, notes


def query(run, t_session: float):
    """Both query paths on one clustered index built in set-up; the build
    is idle while they are timed.

    Batch: the Cranfield-shaped query set through ``ranked_topk_batch``
    with the bm25 scatter-gather kernel, then the tfidf_ref exchange plan,
    back to back. Then ``SERVE_SHARE`` of the window, serve: an open loop
    at a fixed rate against ``LocalIndexReader``, no Spark at query time.

    throughput_per_s: batch queries per second over both scorers.
    latency_*: serve requests, timed from when each was due."""
    from searchengine_spark.query.exec import IndexHandle

    t0 = time.perf_counter()
    with run.span("setup"):
        pages, truth, index, bstats = setup_index(run, True, 0.0)
        handle = IndexHandle(run.spark, index)
        vocab = vocabulary(read_lexicon(index))
        queries = batch_queries(run.seed, vocab)
        for _ in range(2):  # the first warm round still runs ~30% slow
            batch_round(run, handle, queries, {"bm25": [], "tfidf_ref": []})
        reader, open_s = open_reader(run, index)
        pool = serve_pool(run.seed, vocab, truth)
        cold = pool_pass(run, reader, pool)
    setup_s = t_session + time.perf_counter() - t0

    # batch first, straight after its warm-up rounds: after the serve
    # phase's seconds of idle Spark, the first round ran ~30% slower
    per = {"bm25": [], "tfidf_ref": []}
    with run.span("measure.batch"):
        blat, results, _ = closed_loop(
            run, lambda i: batch_round(run, handle, queries, per),
            (1 - SERVE_SHARE) * run.seconds,
        )
    plan = request_plan(run.seed, pool, int(SERVE_RATE * SERVE_SHARE * run.seconds))
    with run.span("measure.serve"):
        lat, res, loop, per_class = open_loop(run, reader, plan, SERVE_RATE)

    with run.span("check"):
        oidx = oracle_index(run, truth)
        check_index(run, index, bstats, oidx)
        # batch: the first round against the oracle (sample) and the bm25
        # kernel against the exchange plan; later rounds against the first
        first = results[0]
        for r in results[1:]:
            for sc, got in r.items():
                for qid, _ in queries:
                    run.check(rank_identical(got[qid], first[sc][qid]),
                              f"batch {sc} qid {qid} differs between calls")
        _, _, exch = run_batch(run, handle, queries, "bm25", impl="exchange")
        for qid, _ in queries:
            a, b = first["bm25"][qid], exch[qid]
            run.check(
                len(a) == len(b)
                and all(x[0] == y[0] and abs(x[1] - y[1]) <= 1e-9 * max(1.0, abs(x[1]))
                        for x, y in zip(a, b)),
                f"bm25 kernel vs exchange qid {qid}",
            )
        sample = oracle_sample(run, queries)
        for sc, got in first.items():
            check_oracle(run, oidx, sample, sc, got)
        # serve: every ranked response against the batch kernel's answer,
        # every boolean one against the boolean oracle
        rq = list(enumerate(sorted({q for c, qs in pool.items() if c != "boolean" for q in qs})))
        _, _, ref = run_batch(run, handle, rq, "bm25")
        by_q = {q: ref[qid] for qid, q in rq}
        check_oracle(run, oidx, oracle_sample(run, rq), "bm25", ref)
        bool_first: dict[str, list] = {}
        for (cls, q), resp in zip(plan, res):
            got = expand(resp)
            if cls == "boolean":
                run.check(bool_first.setdefault(q, got) == got, f"boolean {q!r} unstable")
            else:
                run.check(rank_identical(got, by_q[q]), f"serve vs batch {q!r}")
        check_boolean(run, oidx, sorted(bool_first), bool_first)

    qps = 2 * len(queries) * len(blat) / sum(blat)
    layers = {}
    if run.trace:
        layers.update(exec_layers(per, handle, queries))
        layers["query.serve.open_s"] = open_s
        layers["query.serve.cold_p50_ms"] = median(x for xs in cold.values() for x in xs) * 1e3
        for cls, xs in per_class.items():
            layers[f"query.serve.{cls}_p50_ms"] = median(xs) * 1e3
        layers.update(loop["prune"].layers())
        layers.update(common_layers(run, pages, index, [bstats]))
        layers.update(loop_layers(loop))
    label, p_tail = tail(lat)
    notes = {
        "batch_bm25_qps": len(queries) / median(p + e for p, e in per["bm25"]),
        "batch_tfidf_qps": len(queries) / median(p + e for p, e in per["tfidf_ref"]),
        "batch round seconds": [round(x, 3) for x in blat],
        "serve_p50_ms": median(lat) * 1e3,
        f"serve_{label}_ms": p_tail * 1e3,
        "serve_capacity_qps": loop["capacity"],
        "serve offered_qps": loop["offered"],
        "serve requests": len(lat),
        "latency_tail": label,
    }
    return e2e(run, setup_s, qps, lat, index, truth), layers, notes


WORKLOADS = {"build": build, "query": query}
