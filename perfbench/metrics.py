"""Turns the operations one benchmark JVM timed into the benchmark's metrics.

An operation counts towards a latency only if it neither threw nor failed
its output check. Unit 0 is the first unit of work in the JVM (the cold
one); later units are warm, and a warm figure is the median over them.
Every run prints every metric of its kind; a per-layer metric of a layer the
workload does not run reads 0.
"""
import statistics

# Call sites (file.action of the engine call that started a SQL execution)
# whose jobs the crawl runs; any other site adds to crawl.other.
CRAWL_SITES = ("WaveRunner.count", "WaveRunner.localCheckpoint", "UrlSeen.collect",
               "WaveStore.parquet", "WaveStore.collect")
# The follow-up call of each crawl workload, named after the layer it runs.
FOLLOWUP = {"crawl_bulk": "crawl.Records", "crawl_polite": "crawl.resume"}
SITE_COUNTERS = (("jobs", "count"), ("task_ms", "ms"), ("shuffle_bytes", "B"))
MODULES = {
    "relational": ("q_flagship_agg", "q_topk_revenue", "q_window_rank", "q_semi_anti",
                   "q_search_filter", "q_point_lookup", "q_interest_overlap"),
    "ops.TextOps": ("q_tfidf_cosine", "q_corpus_prep"),
    "ops.Dedup": ("q_minhash_lsh", "q_dup_clusters_lsh"),
    "ops.Prep": ("q_redact_pii", "q_pack_sequences"),
    "ops.Ann": ("q_cosine_topk",),
    "ops.Cluster": ("q_kmeans_clusters",),
}
SPARK = (("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("task_ms", "ms"),
         ("cpu_ms", "ms"), ("gc_ms", "ms"), ("shuffle_write_bytes", "B"), ("spill_bytes", "B"))

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "throughput_per_s": "1/s",
              "followup_s": "s"}


def med(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def good(res, kind=None, warm=None):
    return [o for o in res["ops"] if o["ok"] and (kind is None or o["kind"] == kind)
            and (warm is None or (o["unit"] > 0) == warm)]


def group(ops, key):
    g = {}
    for o in ops:
        g.setdefault(o[key], []).append(o)
    return g


def timings(res):
    """The end-to-end figures, in seconds and items per second."""
    if res["workload"] == "query_mix":
        warm = {k: {q: med(o["seconds"] for o in ops)
                    for q, ops in group(good(res, k, warm=True), "name").items()}
                for k in ("analytic", "serving")}
        busy = sum(warm["analytic"].values()) + sum(warm["serving"].values())
        n = len(warm["analytic"]) + len(warm["serving"])
        return {"cold_s": sum(o["seconds"] for o in good(res, warm=False)),
                "warm_s": sum(warm["analytic"].values()),
                "throughput_per_s": n / busy if busy else 0.0,
                "followup_s": sum(warm["serving"].values())}
    crawls = good(res, "crawl", warm=True)
    return {"cold_s": med(o["seconds"] for o in good(res, "crawl", warm=False)),
            "warm_s": med(o["seconds"] for o in crawls),
            "throughput_per_s": med(o["items"] / o["seconds"] for o in crawls),
            "followup_s": med(o["seconds"] for o in good(res, "followup", warm=True))}


def end_to_end(res):
    m = dict(timings(res), setup_s=res["setup_s"])
    return {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}


def per_layer_names():
    """(name, unit, better) of every per-layer metric, in print order."""
    out = [("synth.fetch.calls", "count", "lower"), ("synth.fetch.busy_ms", "ms", "lower"),
           ("synth.fetch.ok_ratio", "ratio", "higher"),
           ("synth.fetch.task_share", "ratio", "higher")]
    for site in CRAWL_SITES + ("other",):
        out += [(f"crawl.{site}.{c}", u, "lower") for c, u in SITE_COUNTERS]
    for layer in FOLLOWUP.values():
        out += [(f"{layer}.{c}", u, "lower") for c, u in SITE_COUNTERS]
    out += [("crawl.wave_period_s", "s", "lower"), ("crawl.store_bytes_per_url", "B", "lower")]
    out += [(f"spark.{c}", u, "lower") for c, u in SPARK]
    out += [("spark.codegen_compiles", "count", "lower"), ("spark.busy_ratio", "ratio", "higher")]
    for q in (q for qs in MODULES.values() for q in qs):
        out += [(f"q.{q}.cold_s", "s", "lower"), (f"q.{q}.warm_s", "s", "lower")]
    for mod in MODULES:
        out += [(f"{mod}.warm_s", "s", "lower"), (f"{mod}.task_ms", "ms", "lower"),
                (f"{mod}.shuffle_bytes", "B", "lower"), (f"{mod}.codegen_compiles", "count", "lower")]
    out += [("trace.warm_s", "s", "lower")]
    return out


def unit_counters(ops):
    """Sums the traced counters of the given operations."""
    spark = {c: sum(o["trace"]["spark"].get(c, 0) for o in ops) for c, _ in SPARK}
    spark["codegen_compiles"] = sum(o["trace"]["codegen_compiles"] for o in ops)
    sites = {}
    for o in ops:
        for site, cs in o["trace"]["sites"].items():
            acc = sites.setdefault(site, dict.fromkeys(cs, 0))
            for c, v in cs.items():
                acc[c] += v
    return spark, sites


def per_layer(res):
    v = {name: 0.0 for name, _, _ in per_layer_names()}
    cores = res["cores"]
    warm_units = group([o for o in res["ops"] if o["ok"] and o["unit"] > 0], "unit")
    spark_units = []
    for ops in warm_units.values():
        spark, _ = unit_counters(ops)
        spark["busy_ratio"] = spark["task_ms"] / 1000 / (sum(o["seconds"] for o in ops) * cores)
        spark_units.append(spark)
    for c in [c for c, _ in SPARK] + ["codegen_compiles", "busy_ratio"]:
        v[f"spark.{c}"] = med(u[c] for u in spark_units)

    if res["workload"] == "query_mix":
        per_query(res, v)
    else:
        per_crawl(res, v)
    v["trace.warm_s"] = timings(res)["warm_s"]
    return {name: {"value": v[name], "unit": unit} for name, unit, _ in per_layer_names()}


def per_crawl(res, v):
    crawls = good(res, "crawl", warm=True)
    fetch = [o["trace"]["fetch"] for o in crawls]
    v["synth.fetch.calls"] = med(f["calls"] for f in fetch)
    v["synth.fetch.busy_ms"] = med(f["busy_ns"] / 1e6 for f in fetch)
    v["synth.fetch.ok_ratio"] = med(f["ok"] / f["calls"] for f in fetch if f["calls"])
    v["synth.fetch.task_share"] = med(o["trace"]["fetch"]["busy_ns"] / 1e6 / o["trace"]["spark"]["task_ms"]
                                      for o in crawls if o["trace"]["spark"]["task_ms"])
    per_unit = [unit_counters([o])[1] for o in crawls]
    for site in CRAWL_SITES + ("other",):
        for c, _ in SITE_COUNTERS:
            v[f"crawl.{site}.{c}"] = med(
                sum(cs[c] for s, cs in u.items() if s == site or
                    (site == "other" and s not in CRAWL_SITES)) for u in per_unit)
    follow = [unit_counters([o])[1] for o in good(res, "followup", warm=True)]
    for c, _ in SITE_COUNTERS:
        v[f"{FOLLOWUP[res['workload']]}.{c}"] = med(sum(cs[c] for cs in u.values()) for u in follow)
    gaps = [(b - a) / 1000 for o in crawls for a, b in
            zip(o["trace"]["fetch_starts_ms"], o["trace"]["fetch_starts_ms"][1:])]
    v["crawl.wave_period_s"] = med(gaps)
    store = res.get("store_bytes", {})
    v["crawl.store_bytes_per_url"] = med(store[str(o["unit"])] / o["items"] for o in crawls
                                         if str(o["unit"]) in store)


def per_query(res, v):
    cold = {o["name"]: o for o in good(res, warm=False)}
    warm = group(good(res, warm=True), "name")
    for mod, qs in MODULES.items():
        for q in qs:
            ops = warm.get(q, [])
            v[f"q.{q}.cold_s"] = cold[q]["seconds"] if q in cold else 0.0
            v[f"q.{q}.warm_s"] = med(o["seconds"] for o in ops)
            v[f"{mod}.warm_s"] += v[f"q.{q}.warm_s"]
            v[f"{mod}.task_ms"] += med(o["trace"]["spark"]["task_ms"] for o in ops)
            v[f"{mod}.shuffle_bytes"] += med(o["trace"]["spark"]["shuffle_write_bytes"] for o in ops)
            if q in cold:
                v[f"{mod}.codegen_compiles"] += cold[q]["trace"]["codegen_compiles"]
