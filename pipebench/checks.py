"""Output checks. Each takes plain Python values (collected rows, dicts,
lists) plus the generator's ``planted.json`` and returns the problems it
found, keyed by the span whose call produced the wrong output; an empty
dict means the output is correct. Keeping the checks free of Spark lets
the tests feed them corrupted outputs directly."""

from __future__ import annotations

from collections import defaultdict

MODEL_SPANS = {
    "linear_regression": "ml.pipeline.train_and_score.linear_regression",
    "mlp": "ml.mlp.train_and_score_mlp",
}


def check_cmapss(out: dict, planted: dict, rmse_ceiling: float) -> dict[str, list[str]]:
    """``out`` holds: kept_sensors, feature_rows, rul0_per_unit (list of
    (dataset, unit_nr, count of rul=0 rows)), prediction_rows ({model:
    rows}) and metrics ({model: {"rmse": ...}})."""
    bad = defaultdict(list)
    etl = bad["pipeline.run_etl"]
    if out["kept_sensors"] != planted["kept_sensors"]:
        etl.append(f"kept sensors {out['kept_sensors']} != planted {planted['kept_sensors']}")
    if out["feature_rows"] != planted["train_rows"]:
        etl.append(f"feature rows {out['feature_rows']} != input rows {planted['train_rows']}")
    units = sum(d["train_units"] for d in planted["datasets"].values())
    rul0 = out["rul0_per_unit"]
    if len(rul0) != units or any(n != 1 for _, _, n in rul0):
        etl.append(f"rul=0 rows per unit wrong: {len(rul0)} units, planted {units}")
    test_units = sum(d["test_units"] for d in planted["datasets"].values())
    for model, rows in sorted(out["prediction_rows"].items()):
        if rows != test_units:
            bad["ml.pipeline.predictions_write"].append(
                f"{model}: {rows} prediction rows != {test_units} test units"
            )
    for model, m in sorted(out["metrics"].items()):
        if not 0 < m["rmse"] < rmse_ceiling:
            bad[MODEL_SPANS[model]].append(
                f"{model}: validation rmse {m['rmse']:.2f} outside (0, {rmse_ceiling:.2f})"
            )
    return {k: v for k, v in bad.items() if v}


def check_tile(name: str, result, planted: dict) -> list[str]:
    """One dashboard tile's collected result against the planted counts.
    ``planted`` carries the C-MAPSS plant plus ``prediction_rows``."""
    rows = planted["train_rows"]
    if name == "fleet_overview":
        got = {r["dataset"]: (r["n_engines"], r["n_cycles"]) for r in result}
        want = {c: (d["train_units"], d["train_rows"]) for c, d in planted["datasets"].items()}
        return [] if got == want else [f"fleet_overview {got} != planted {want}"]
    if name == "critical_share":
        share = sum(r["share"] for r in result)
        n = sum(r["n"] for r in result)
        bad = [] if abs(share - 1.0) < 1e-5 else [f"band shares sum to {share}"]
        return bad + ([] if n == rows else [f"band counts sum to {n} != {rows}"])
    if name in ("rul_distribution", "sensor_histogram"):
        n = sum(r["n"] for r in result)
        return [] if n == rows else [f"{name} counts sum to {n} != {rows}"]
    if name == "sensor_bounds":
        bad = [c for c, (lo, hi) in result.items() if lo is None or not lo < hi]
        return [f"sensor_bounds degenerate for {bad}"] if bad else []
    if name == "recent_predictions":
        want = min(1000, planted["prediction_rows"])
        return [] if len(result) == want else [f"recent_predictions {len(result)} rows != {want}"]
    if name == "prediction_error_summary":
        n = sum(r["n_predictions"] for r in result)
        want = planted["prediction_rows"]
        return [] if n == want else [f"error summary covers {n} predictions != {want}"]
    return [f"unknown tile {name}"]


def check_curation(out: dict, planted: dict, max_tokens: int) -> dict[str, list[str]]:
    """``out`` holds: chunk_docs ({doc_id: split} over the written
    chunks) and seq_tokens (token total of every packed sequence)."""
    bad = defaultdict(list)
    docs = out["chunk_docs"]
    leaked = [d for d in planted["contaminants"] if d in docs]
    if leaked:
        bad["llm.quality.decontaminate"].append(f"contaminants survived: {leaked[:5]}")
    curate = bad["llm.curation.curate_corpus_v3"]
    junk = [d for d in planted["junk"] if d in docs]
    if junk:
        curate.append(f"junk docs survived: {junk[:5]}")
    for group in planted["dup_groups"]:
        kept = [d for d in group if d in docs]
        if len(kept) > 1:
            curate.append(f"duplicates survived together: {kept}")
    for cluster in planted["near_clusters"]:
        if len({docs[d] for d in cluster if d in docs}) > 1:
            bad["llm.dedup.cluster_aware_split"].append(
                f"near-duplicate cluster straddles the split: {cluster}"
            )
    over = [t for t in out["seq_tokens"] if t > max_tokens]
    if over:
        bad["llm.pack.pack_sequences"].append(
            f"{len(over)} packed sequences exceed {max_tokens} tokens"
        )
    if not docs:
        bad["curate.write_chunks"].append("no chunks written")
    if not out["seq_tokens"]:
        bad["curate.write_packed"].append("no packed sequences written")
    return {k: v for k, v in bad.items() if v}


def check_media(kind: str, survivors: int, errors: list[str], groups: int) -> list[str]:
    """One dedup call: survivors must equal the planted group count and
    every object must decode."""
    bad = []
    if errors:
        bad.append(f"{len(errors)} {kind} objects failed to decode: {errors[:2]}")
    if survivors != groups:
        bad.append(f"{survivors} {kind} survivors != {groups} planted groups")
    return bad
