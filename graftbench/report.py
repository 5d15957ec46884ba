"""Turn one run's raw output (written by BenchMain) into the result line."""

from metrics import by_name, driver_share, median, self_seconds, tail_percentile

MB = 1024.0 * 1024.0
KINDS = ("ann", "exact", "hybrid")


def end_to_end(raw):
    samples = raw["samples"]
    by_kind = {k: [s["s"] for s in samples if s["kind"] == k] for k in KINDS}
    answered = len(samples) * raw["queries_per_op"]
    return {
        "setup_s": (raw["setup_s"], "s"),
        "heap_live_mb": (raw["heap_live_bytes"] / MB, "MB"),
        "ann_p50_s": (median(by_kind["ann"]), "s"),
        "exact_p50_s": (median(by_kind["exact"]), "s"),
        "hybrid_p50_s": (median(by_kind["hybrid"]), "s"),
        "qps": (answered / raw["window_s"], "1/s"),
        "ann_recall_at_10": (raw["recall"], "ratio"),
        "index_bytes_per_corpus_byte": (raw["index_bytes"] / raw["corpus_bytes"], "ratio"),
    }


def per_layer(raw):
    spans, jobs = raw["spans"], raw["job_windows"]

    def one(name):
        found = by_name(spans, name)
        if not found:
            raise KeyError(f"traced run recorded no '{name}' span")
        return found

    def secs(name):
        return median([s["seconds"] for s in one(name)])

    def count(name, field):
        return median([s["counts"][field] for s in one(name)])

    def share(name):
        return median([driver_share(s, jobs) for s in one(name)])

    def task_s_per_query(name):
        found = one(name)
        return (sum(s["counts"]["task_ms"] for s in found) / 1000.0 /
                sum(s["attrs"]["queries"] for s in found))

    curate = one("Graft.curate")[-1]
    reindex = one("Graft.reindex")[0]
    tick = raw["tick"]
    serve = one("AnnIvf.serve")
    hits = one("AnnIvf.hit_join")
    rows_scanned = median([s["counts"]["records_read"] for s in serve])
    overhead = raw["trace_overhead"]
    return {
        "Graft.ann.jobs_per_call": (count("Graft.ann", "jobs"), "count"),
        "Graft.ann.driver_share": (share("Graft.ann"), "ratio"),
        "Graft.exact.jobs_per_call": (count("Graft.exact", "jobs"), "count"),
        "Graft.exact.driver_share": (share("Graft.exact"), "ratio"),
        "Graft.exact.task_s_per_query": (task_s_per_query("Graft.exact"), "s"),
        "Graft.hybrid.jobs_per_call": (count("Graft.hybrid", "jobs"), "count"),
        "Graft.hybrid.driver_share": (share("Graft.hybrid"), "ratio"),
        "Graft.batch.task_s_per_query": (task_s_per_query("Graft.batch"), "s"),
        "Graft.reindex.jobs_per_tick": (reindex["counts"]["jobs"], "count"),
        "Graft.reindex.driver_share": (driver_share(reindex, jobs), "ratio"),
        "Graft.reindex.shuffle_mb_per_tick": (reindex["counts"]["shuffle_bytes"] / MB, "MB"),
        "Graft.derived_refresh_s": (max(0.0, secs("Graft.reindex_settled") - secs("sources.rescan_settled")
                                        - secs("IndexStore.update_settled")), "s"),
        "Graft.curate.jobs_per_pass": (curate["counts"]["jobs"], "count"),
        "Graft.curate.task_s_per_pass": (curate["counts"]["task_ms"] / 1000.0, "s"),
        "Graft.curate.shuffle_mb_per_pass": (curate["counts"]["shuffle_bytes"] / MB, "MB"),
        "Graft.curate.spill_mb_per_pass": (curate["counts"]["spill_bytes"] / MB, "MB"),
        "Graft.curate.driver_share": (driver_share(curate, jobs), "ratio"),
        "Embedder.embed_text_s": (secs("Embedder.embed_text"), "s"),
        "Embedder.embed_frame_s": (secs("Embedder.embed_frame"), "s"),
        "sources.discover_s": (secs("sources.discover"), "s"),
        "sources.rescan_s": (secs("sources.rescan"), "s"),
        "Chunker.index_build_s": (secs("Chunker.index_build"), "s"),
        "IndexStore.save_s": (secs("IndexStore.save"), "s"),
        "IndexStore.incremental_update_s": (secs("IndexStore.incremental_update"), "s"),
        "IndexStore.rows_written_per_dirty_chunk": (count("IndexStore.incremental_update", "records_written")
                                                    / tick["dirty_chunks"], "ratio"),
        "AnnIvf.build_s": (secs("AnnIvf.build"), "s"),
        "AnnIvf.serve_s": (secs("AnnIvf.serve"), "s"),
        "AnnIvf.hit_join_s": (secs("AnnIvf.hit_join"), "s"),
        "AnnIvf.rows_scanned_per_query": (rows_scanned, "count"),
        "AnnIvf.rows_scanned_per_hit": (rows_scanned / median([s["attrs"]["hits"] for s in hits]), "ratio"),
        "AnnIvf.cells_rewritten_per_tick": (tick["ann_cells_rewritten"], "count"),
        "AnnIvf.store_files": (tick["ann_store_files"], "count"),
        "Bm25Store.build_s": (secs("Bm25Store.build"), "s"),
        "Bm25Store.scores_s": (secs("Bm25Store.scores"), "s"),
        "Bm25Store.buckets_rewritten_per_tick": (tick["lex_cells_rewritten"], "count"),
        "Dedup.clusters_s": (secs("Dedup.clusters"), "s"),
        "TextAnalysis.quality_s": (secs("TextAnalysis.quality"), "s"),
        "Pipeline.contamination_s": (secs("Pipeline.contamination"), "s"),
        "Pipeline.mixture_s": (secs("Pipeline.mixture"), "s"),
        "Pipeline.pack_s": (secs("Pipeline.pack"), "s"),
        "Pipeline.shards_s": (secs("Pipeline.shards"), "s"),
        "spark.session_s": (secs("spark.session"), "s"),
        "setup.self_s": (median([self_seconds(s, spans) for s in one("setup")]), "s"),
        "jvm.gc_share": (raw["gc_s"] / raw["window_s"], "ratio"),
        "jvm.peak_rss_mb": (raw["peak_rss_kb"] / 1024.0, "MB"),
        "trace.overhead_ratio": (overhead["traced_s"] / overhead["plain_s"], "ratio"),
    }


def summary(raw):
    """One human line per op kind: sample count, median, tail percentile and
    the window's latencies in order (they show whether the warm-up was long
    enough)."""
    lines = []
    for k in KINDS:
        values = [s["s"] for s in raw["samples"] if s["kind"] == k]
        p, tail = tail_percentile(values)
        seq = " ".join(f"{v:.3f}" for v in values)
        lines.append(f"{k}: n={len(values)} median={median(values):.4f}s p{p:g}={tail:.4f}s [{seq}]")
    return lines


def result(raw, traced):
    metrics = per_layer(raw) if traced else end_to_end(raw)
    return {
        "correct": not raw["failures"],
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
