"""IVF cell-skew demonstration (VERDICT r4 #6).

Real corpora cluster, so one IVF cell can dominate — the docstring of
``ann_topk_ivf`` names this as the known IVF trade. This harness builds that
adversarial layout (85% of vectors quantizing into ONE cell), points every
query at the dominant cell, and measures the end of the pipeline where the
skew actually lands: after the broadcast candidate join, all candidates of a
query meet in a single ``Window.partitionBy(qid)`` task — per-task work AND
per-task memory are O(dominant cell), unbounded by adding executors.

The mitigation under test is the salted two-phase re-rank
(``rerank_salt=S``): a local top-k inside S content-derived sub-partitions
first, then the exact global window over ≤ S·k survivors — identical output
(pinned by tests/test_dedup_ops.py::test_ivf_salted_rerank_identical), but
the biggest single task shrinks from |cell| candidate rows to ≈ |cell|/S.

FINDING (round 5): the measurement shows the feared bottleneck DOES NOT
EXIST in this plan shape on Spark ≥ 3.5 — the optimizer's
``InferWindowGroupLimit`` rewrites ``row_number() … filter rk <= k`` into a
``WindowGroupLimit(Partial)`` BEFORE the qid exchange, so every map task
pre-prunes its candidates to k per query and the shuffle carries
O(tasks·k), not O(|cell|), rows: on a 1.02M-row dominant cell the per-qid
window stage runs in ~50 ms and the salted variant only ADDS a shuffle
(0.74× wall). The harness verifies the ``WindowGroupLimit Partial``
operator is present in the plan and records it in the artifact; if a future
Spark/plan change drops it (the JSON would show window-stage task times
growing with the cell), ``rerank_salt`` is the ready mitigation — it stays
available for window consumers whose output is NOT a rank-filter (full
ranking, percentile assignment), where no group-limit pushdown exists.

Both the wall time and the OBJECTIVE skew observable are reported: per-rep,
per-stage task-duration quantiles + max task duration from Spark's own
status REST API — the probe-side "task-time spread" the verdict asked for.

Usage:
    python BENCH/ivf_skew_bench.py           # orchestrates, writes
                                             # BENCH/ivf_skew_bench.json and
                                             # appends a table to BENCH/BASELINE.md
Child:  python BENCH/ivf_skew_bench.py --variant salted --input PATH

Protocol matches BENCH/skew_bench.py: taskset-pinned child per variant
(fresh JVM), steal fraction per rep, best-of-reps reported.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from scaling import _steal_total  # noqa: E402

N_VECS = int(os.environ.get("IVF_SKEW_N", "1200000"))
DIM = int(os.environ.get("IVF_SKEW_DIM", "16"))
N_CELLS = 16
MEGA_SHARE = 85  # % of vectors forced into cell 0
N_QUERIES = 2
CORES = int(os.environ.get("IVF_SKEW_CORES", "8"))
REPS = int(os.environ.get("IVF_SKEW_REPS", "2"))
SALT = int(os.environ.get("IVF_SKEW_SALT", "64"))
K = 10


def _skewed_embeddings(spark, n: int):
    """Deterministic clustered corpus, closed-form in vec_id (no RNG):

    * ids 0..N_CELLS-1 are the cell centroid vectors themselves (the default
      seeded quantizer of ``ann_topk_ivf`` uses exactly these rows);
    * ids N_CELLS..N_CELLS+N_QUERIES-1 are query vectors next to centroid 0;
    * of the rest, MEGA_SHARE% sit in centroid 0's basin (the dominant
      cell), the remainder spread over cells 1..N_CELLS-1."""
    import numpy as np
    import pandas as pd

    def cdirs() -> "np.ndarray":
        j = np.arange(N_CELLS)[:, None]
        d = np.arange(DIM)[None, :]
        base = 0.1 * ((j * 31 + d) % 7)
        base[np.arange(N_CELLS), np.arange(N_CELLS) % DIM] += 3.0
        return base

    def gen(batches):
        C = cdirs()
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            cell = np.where(
                (ids * 2654435761 % 100) < MEGA_SHARE, 0, 1 + (ids * 97) % (N_CELLS - 1)
            )
            # noise: closed-form pseudo-uniform in [-0.25, 0.25)
            d = np.arange(DIM)[None, :]
            noise = (((ids[:, None] * 2654435761 + d * 40503) % 1000) / 1000.0 - 0.5) / 2.0
            vecs = C[cell] + noise
            seeds = ids < N_CELLS
            vecs[seeds] = C[ids[seeds]]
            qmask = (ids >= N_CELLS) & (ids < N_CELLS + N_QUERIES)
            vecs[qmask] = C[0] + 0.05 * (ids[qmask, None] - N_CELLS + 1) / N_QUERIES
            yield pd.DataFrame({"vec_id": ids, "embedding": list(vecs)})

    return spark.range(0, n, 1, 32).mapInPandas(
        gen, schema="vec_id long, embedding array<double>"
    )


def _stage_ids(spark) -> set:
    try:
        ui = spark.sparkContext.uiWebUrl
        app_id = spark.sparkContext.applicationId
        stages = json.loads(
            urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages", timeout=10).read()
        )
        return {s["stageId"] for s in stages}
    except Exception:  # noqa: BLE001
        return set()


def _stage_task_spread(spark, only_ids: set | None = None) -> list[dict]:
    """Pull per-stage task-duration quantiles from the Spark UI REST API —
    the objective skew observable (one straggler task = spread >> 1).
    ``only_ids`` restricts to the stages of one timed rep (the REST API
    otherwise returns every stage since app start, warmup included)."""
    try:
        ui = spark.sparkContext.uiWebUrl
        app_id = spark.sparkContext.applicationId
        stages = json.loads(
            urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages?status=complete", timeout=10).read()
        )
        out = []
        for st in stages:
            if st.get("numCompleteTasks", 0) < 1:
                continue
            if only_ids is not None and st["stageId"] not in only_ids:
                continue
            sid, att = st["stageId"], st["attemptId"]
            q = json.loads(
                urllib.request.urlopen(
                    f"{ui}/api/v1/applications/{app_id}/stages/{sid}/{att}/taskSummary?quantiles=0.5,0.95,1.0",
                    timeout=10,
                ).read()
            )
            dur = q.get("duration") or q.get("executorRunTime")
            if not dur:
                continue
            out.append(
                {
                    "stage": sid,
                    "tasks": st["numCompleteTasks"],
                    "p50_ms": round(dur[0]),
                    "p95_ms": round(dur[1]),
                    "max_ms": round(dur[2]),
                }
            )
        return out
    except Exception as exc:  # noqa: BLE001 — UI may be disabled; report, don't fail
        return [{"error": str(exc)}]


def _measure(variant: str, input_path: str) -> dict:
    from ocr_machine_spark.operators.similarity import ann_topk_ivf
    from ocr_machine_spark.session import get_spark

    spark = get_spark(
        app=f"ivfskew-{variant}", master=f"local[{CORES}]", shuffle_partitions=CORES * 2
    )
    spark.sparkContext.setLogLevel("ERROR")
    # AQE partition-coalescing OFF for BOTH variants: at this toy scale the
    # post-join partitions are a few MB, so AQE folds the whole window stage
    # (even the salted one) into ONE task and the measurement would compare
    # coalescing artifacts, not layouts. On the 100 TB target these
    # partitions are GBs — far above any advisory size — so never coalesced;
    # disabling reproduces the cluster-scale physical shape. (AQE stays on
    # everywhere else in the engine; skew-join handling is orthogonal.)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    emb = spark.read.parquet(input_path)
    qids = list(range(N_CELLS, N_CELLS + N_QUERIES))
    salt = SALT if variant == "salted" else None

    def run():
        return ann_topk_ivf(
            emb, qids, k=K, n_cells=N_CELLS, n_probe=2, dim=DIM, rerank_salt=salt
        ).count()

    # plan evidence: is the rank-filter window map-side-bounded?
    plan = (
        ann_topk_ivf(emb, qids, k=K, n_cells=N_CELLS, n_probe=2, dim=DIM, rerank_salt=salt)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    has_partial_limit = "WindowGroupLimit" in plan and "Partial" in plan
    ann_topk_ivf(
        emb.limit(50000), qids, k=K, n_cells=N_CELLS, n_probe=2, dim=DIM, rerank_salt=salt
    ).count()  # warmup: codegen + python workers
    best = None
    n = 0
    tries = 0
    max_tries = REPS * 4
    reps_done = 0
    while reps_done < REPS and tries < max_tries:
        tries += 1
        before = _stage_ids(spark)
        st0, tt0 = _steal_total(CORES)
        t0 = time.perf_counter()
        n = run()
        sec = time.perf_counter() - t0
        st1, tt1 = _steal_total(CORES)
        rep_stages = _stage_ids(spark) - before
        res = {
            "variant": variant,
            "cores": CORES,
            "rows": n,
            "sec": round(sec, 2),
            "steal_frac": round((st1 - st0) / max(tt1 - tt0, 1.0), 4),
            "task_spread": _stage_task_spread(spark, rep_stages),
        }
        print(f"    {variant}: {res['sec']}s steal={res['steal_frac']:.3%}", file=sys.stderr)
        if res["steal_frac"] >= 0.01:
            # contaminated window — keep as fallback but don't count the rep
            if best is None:
                best = res
            continue
        reps_done += 1
        if best is None or best["steal_frac"] >= 0.01 or res["sec"] < best["sec"]:
            best = res
    best["window_group_limit_partial"] = has_partial_limit
    best["steal_clean"] = best["steal_frac"] < 0.01
    spark.stop()
    return best


def _orchestrate() -> None:
    import shutil

    tmp = tempfile.mkdtemp(prefix="ivf_skew_")
    try:
        input_path = os.path.join(tmp, "emb")
        from ocr_machine_spark.session import get_spark

        gen = get_spark(app="ivfskew-gen", master="local[32]")
        gen.sparkContext.setLogLevel("ERROR")
        _skewed_embeddings(gen, N_VECS).write.parquet(input_path)
        gen.stop()

        results = {}
        for variant in ("unsalted", "salted"):
            cmd = [
                "taskset", "-c", f"0-{CORES - 1}",
                sys.executable, os.path.abspath(__file__),
                "--variant", variant, "--input", input_path,
            ]
            out = subprocess.run(
                cmd, capture_output=True, text=True, cwd=REPO, check=True, timeout=1800,
                env=dict(os.environ, SPARK_DRIVER_MEMORY="16g"),
            )
            print(out.stderr, file=sys.stderr)
            results[variant] = json.loads(out.stdout.strip().splitlines()[-1])

        def _max_task(r):
            ds = [s.get("max_ms", 0) for s in r.get("task_spread", []) if "max_ms" in s]
            return max(ds) if ds else None

        speedup = round(results["unsalted"]["sec"] / results["salted"]["sec"], 2)
        summary = {
            "n_vecs": N_VECS,
            "dim": DIM,
            "mega_share_pct": MEGA_SHARE,
            "n_queries": N_QUERIES,
            "cores": CORES,
            "rerank_salt": SALT,
            "unsalted_sec": results["unsalted"]["sec"],
            "salted_sec": results["salted"]["sec"],
            "salted_speedup": speedup,
            "unsalted_max_task_ms": _max_task(results["unsalted"]),
            "salted_max_task_ms": _max_task(results["salted"]),
            "window_group_limit_partial": results["unsalted"].get("window_group_limit_partial"),
            "variants": results,
        }
        with open(os.path.join(REPO, "BENCH", "ivf_skew_bench.json"), "w") as f:
            json.dump(summary, f, indent=2)
        print(json.dumps(summary))

        def _window_stage_ms(r):
            # the FINAL per-qid window stage = the 2·cores-task (shuffle
            # partitions) stage with the smallest p50; in the salted variant
            # the heavier phase-1 (qid,salt) window also has 2·cores tasks,
            # so a max over all candidates would report the wrong stage
            # (review fix r5) — report the final window's max task time
            cands = [s for s in r.get("task_spread", []) if s.get("tasks") == CORES * 2]
            if not cands:
                return None
            return min(cands, key=lambda s: s["p50_ms"])["max_ms"]

        md = os.path.join(REPO, "BENCH", "BASELINE.md")
        lines = [
            "",
            "## IVF cell-skew measurement (round 5)",
            "",
            f"Input: {N_VECS} vectors (dim {DIM}), {MEGA_SHARE}% quantizing into ONE",
            f"cell; {N_QUERIES} queries probing that cell on local[{CORES}]",
            "(taskset-pinned, AQE partition-coalescing off so the toy scale keeps",
            "the cluster-scale physical shape).",
            "",
            "| variant | sec | max task ms (any stage) | window-stage max task ms | steal |",
            "|---|---|---|---|---|",
        ]
        for v in ("unsalted", "salted"):
            r = results[v]
            lines.append(
                f"| {v} | {r['sec']} | {_max_task(r)} | {_window_stage_ms(r)} | {r['steal_frac']:.2%} |"
            )
        lines.append("")
        lines.append(
            "**Finding: the feared dominant-cell window bottleneck does not exist"
            " in this plan shape.** Spark's `InferWindowGroupLimit` plans a"
            " `WindowGroupLimit(Partial)` BELOW the qid exchange (verified in the"
            " executed plan, recorded in the artifact), so each map task pre-"
            "prunes candidates to k per query and the per-qid window stage sorts"
            f" O(tasks·k) rows — ~{_window_stage_ms(results['unsalted'])} ms max on a"
            " 1.02M-row dominant cell. The salted re-rank (identical output,"
            f" CI-pinned) only adds a shuffle here ({speedup}× wall); it remains"
            " the mitigation for rank-free window consumers where no group-limit"
            " pushdown applies, and this artifact is the tripwire: if a plan"
            " change ever drops the partial limit, the window-stage column blows"
            " up with the cell size."
        )
        with open(md, "a") as f:
            f.write("\n".join(lines) + "\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--variant", default=None)
    ap.add_argument("--input", default=None)
    args = ap.parse_args()
    if args.variant:
        print(json.dumps(_measure(args.variant, args.input)))
    else:
        _orchestrate()


if __name__ == "__main__":
    main()
