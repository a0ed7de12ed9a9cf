"""The three workloads: the calls each makes, their output checks, and
the workload-level and layer-level figures derived from them.

Each workload exposes:

- `generate()`: put its inputs in the cache if they are not there —
  untimed, before set-up;
- `prepare()`: load its inputs from the cache — part of set-up;
- `warmup()`: one JVM-side job over the inputs — part of set-up;
- `calls(st)`: yields (span name, call, check) in order.  The call is the
  timed part; `check(output)` raises `CheckFailed` or returns the rows
  that feed the iteration's order-independent digest.  `st` is the
  iteration's scratch dict, shared by the calls and `cleanup`;
- `cleanup(st)`: records the file sizes the metrics need, then removes
  the iteration's outputs;
- `detail(iters)`: the workload's own end-to-end figures;
- `layer(st, spans, parsed)`: layer-specific figures of a traced
  iteration, and `breakdown(spans)`: extra detail for the trace file.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics

import numpy as np
import pandas as pd


class CheckFailed(Exception):
    pass


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def _tree_bytes(path: str, skip: str | None = None) -> int:
    total = 0
    for d, dirs, files in os.walk(path):
        if skip is not None:
            dirs[:] = [x for x in dirs if x != skip]
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _percentile_rank(n: int) -> float:
    """Highest percentile with at least ten samples beyond it (>= 50)."""
    return max(50.0, 100.0 * (1.0 - 10.0 / n)) if n else 50.0


def _call_times(iters, name: str) -> list[float]:
    return [sum(t for n, t in it["calls"] if n == name) for it in iters]


def _stages(spans, name: str) -> list[dict]:
    """Stages (with their time window) under the spans called `name` in
    the last traced iteration."""
    it = [s["id"] for s in spans if s["name"] == "iteration"][-1]
    ids = {s["id"] for s in spans if s["name"] == name and s["parent"] == it}
    return [s["stage"] for s in spans if s["parent"] in ids and "stage" in s]


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = None

    def generate(self) -> None:
        """The pages both tile workloads read."""
        from inputs import make_pages, pages_path

        c = self.ctx
        path = pages_path(c.cache_dir, c.seed, self.PAGES)
        if os.path.isdir(path):
            os.utime(path)
        else:
            make_pages(path, c.seed, self.PAGES)

    def warmup(self) -> None:
        """One JVM-side job over the inputs (file listing and scan)."""
        self.spark.read.parquet(self.inputs).count()

    def cleanup(self, st: dict) -> None:
        self.spark.catalog.clearCache()
        for p in st.get("dirs", []):
            shutil.rmtree(p, ignore_errors=True)

    def layer(self, st, spans, parsed) -> dict:
        return {}

    def breakdown(self, spans) -> dict:
        return {}


# -- tile_job ---------------------------------------------------------------

def tokens_and_length(pdf: pd.DataFrame) -> pd.DataFrame:
    """Row-wise per-tile processor: whitespace tokens and length per page."""
    out = pdf[["url", "tile_gid", "tile_unit"]].copy()
    out["tokens"] = pdf["text"].str.split().str.len().astype("int64")
    out["length"] = pdf["text"].str.len().astype("int64")
    return out


class TileJob(Workload):
    """`app.run_job` over every tile, its resume run, and pruned reads."""

    name = "tile_job"
    PAGES = 10_000
    GRID = 16
    READS = 4
    n_calls = 2 + READS

    def prepare(self) -> None:
        from inputs import pages_path

        c = self.ctx
        self.pages = self.inputs = pages_path(c.cache_dir, c.seed, self.PAGES)
        self.input_bytes = _tree_bytes(self.pages)
        rng = np.random.default_rng(c.seed)
        n_tiles = self.GRID * self.GRID
        self.read_tiles = sorted(
            int(g) for g in rng.choice(n_tiles, self.READS, replace=False) + 1)
        self.cfg_path = os.path.join(c.work_dir, "tile_job.yml")
        self.base_cfg = {
            "input": {"pages": self.pages},
            "tile_index": {"nx": self.GRID, "ny": self.GRID},
            "mode": {"tile_list": ["all"]},
            "parallelism": c.cores,
            "dispatch": {"decomposable": True},
        }

    def _cfg(self, table: str) -> dict:
        import yaml

        from batch3dfier_spark.app import parse_config

        with open(self.cfg_path, "w") as f:
            yaml.safe_dump({**self.base_cfg, "output": {"table": table}}, f)
        return parse_config(self.cfg_path)

    def calls(self, st):
        from batch3dfier_spark.app import run_job
        from batch3dfier_spark.storage.tablefmt import IcebergishTable

        root = os.path.join(self.ctx.work_dir, f"table-{st['k']}")
        st["dirs"] = [root]
        st["root"] = root
        cfg = self._cfg(root)
        table = IcebergishTable(root)
        st["table"] = table

        def check_run(report):
            lin = table.lineage()
            st["lineage"] = lin
            st["files"] = set(table.files())
            _require(len(lin) == self.GRID ** 2,
                     f"lineage has {len(lin)} tiles")
            _require(int(lin["rows_in"].sum()) == self.PAGES,
                     "rows_in does not sum to the page count")
            _require((lin["status"] == "ok").all(), "a tile is not ok")
            return [(int(r.tile_gid), int(r.rows_in), int(r.rows_out))
                    for r in lin.itertuples()]

        yield ("app.run_job",
               lambda: run_job(self.spark, cfg, tokens_and_length),
               check_run)

        def check_resume(report):
            _require(set(table.files()) == st["files"],
                     "the resume run committed new data files")
            return [tuple(sorted(report.items()))]

        yield ("app.run_job_resume",
               lambda: run_job(self.spark, cfg, tokens_and_length),
               check_resume)

        rows_out = dict(zip(st["lineage"]["tile_gid"].astype(int),
                            st["lineage"]["rows_out"].astype(int)))
        for g in self.read_tiles:
            def read(g=g):
                return table.read(self.spark, min_tile=g, max_tile=g) \
                    .select("url", "tile_gid", "tokens", "length").toPandas()

            def check_read(pdf, g=g):
                _require(len(pdf) == rows_out[g],
                         f"tile {g}: read {len(pdf)} rows, lineage says "
                         f"{rows_out[g]}")
                return list(pdf.itertuples(index=False, name=None))

            yield ("tablefmt.read", read, check_read)

    def detail(self, iters) -> dict:
        reads_ms = [t * 1000.0 for it in iters
                    for n, t in it["calls"] if n == "tablefmt.read"]
        pr = _percentile_rank(len(reads_ms))
        return {
            "dispatched_tiles_per_s": (
                self.GRID ** 2 / statistics.median(
                    _call_times(iters, "app.run_job")), "tiles/s"),
            "resume_s": (statistics.median(
                _call_times(iters, "app.run_job_resume")), "s"),
            "readback_ms": (statistics.median(reads_ms), "ms"),
            f"readback_ms_p{pr:.0f}": (float(np.percentile(reads_ms, pr)),
                                       "ms"),
            "readback_samples": (len(reads_ms), "count"),
            "table_bytes_per_input_byte": (
                iters[-1]["st"]["table_bytes"] / self.input_bytes, "ratio"),
        }

    def cleanup(self, st: dict) -> None:
        root = st["root"]
        st["data_bytes"] = _tree_bytes(os.path.join(root, "data"))
        st["metadata_bytes"] = _tree_bytes(root, skip="data")
        st["table_bytes"] = st["data_bytes"] + st["metadata_bytes"]
        if os.path.isdir(root):
            st["files_per_read"] = float(np.mean(
                [len(st["table"].files(min_tile=g, max_tile=g))
                 for g in self.read_tiles]))
        super().cleanup(st)

    def breakdown(self, spans) -> dict:
        """How the last traced `app.run_job` splits between driver time
        and its grouped-map, scan, lineage-fold and other stages (each
        class's covered seconds; classes may overlap in time)."""
        from tracing import covered

        call = [s for s in spans if s["name"] == "app.run_job"][-1]
        stages = _stages(spans, "app.run_job")

        def kind(st) -> str:
            ops = st["ops"]
            if any(o.startswith("FlatMapGroupsIn") for o in ops):
                return "grouped_map_s"
            if any("InsertIntoHadoopFsRelation" in o
                   or o == "ObjectHashAggregate" for o in ops):
                return "lineage_fold_s"
            if any(o.startswith("Scan") for o in ops):
                return "scan_s"
            return "other_stages_s"

        out = {"wall_s": call["end"] - call["start"],
               "driver_s": call["self_s"]}
        for k in ("grouped_map_s", "scan_s", "lineage_fold_s",
                  "other_stages_s"):
            iv = [(x["start"], x["end"]) for x in stages if kind(x) == k]
            out[k] = covered(call["start"], call["end"], iv)
        out["stages"] = [{"label": x["label"], "kind": kind(x),
                          "s": x["end"] - x["start"], "tasks": x["tasks"]}
                         for x in stages]
        return {"app.run_job": out}

    def layer(self, st, spans, parsed) -> dict:
        lin = st["lineage"]
        run = _stages(spans, "app.run_job")
        grouped = [s for s in run
                   if any(o.startswith("FlatMapGroupsIn") for o in s["ops"])]
        g_wall = sum(s["end"] - s["start"] for s in grouped)
        g_task = sum(s["task_s"] for s in grouped)
        wall = lin["wall_ms"].astype(float).to_numpy()
        rows_in = lin["rows_in"].astype(float).to_numpy()
        groups = sum(json.loads(w)["salt_groups"] for w in lin["work_order"])
        return {
            "dispatch.group_stage_s": g_wall,
            "dispatch.groups": groups,
            "dispatch.python_bytes_in": sum(s["python_bytes_in"]
                                            for s in grouped),
            "dispatch.tile_wall_ms_p50": float(np.percentile(wall, 50)),
            "dispatch.tile_wall_ms_p95": float(np.percentile(wall, 95)),
            "dispatch.tile_wall_ms_max": float(wall.max()),
            "dispatch.rows_skew": float(rows_in.max() / np.median(rows_in)),
            "dispatch.slot_util": (g_task / (g_wall * self.ctx.cores)
                                   if g_wall else 0.0),
            "dispatch.files_written": len(st["files"]),
            "tablefmt.files_per_read": st["files_per_read"],
            "tablefmt.data_bytes": st["data_bytes"],
            "tablefmt.metadata_bytes": st["metadata_bytes"],
            "tablefmt.resume_input_rows": sum(
                s["scan_rows"] for s in _stages(spans, "app.run_job_resume")),
        }


# -- tile_rollup -------------------------------------------------------------

class TileRollup(Workload):
    """Ingest, per-tile counts, heights rollup + join, extent query and
    kNN over a fine grid (about one page per tile)."""

    name = "tile_rollup"
    PAGES = 10_000
    GRID = 200
    SAMPLE_MOD = 20  # 1 in 20 points: a 5% kNN sample
    K = 3
    n_calls = 5

    def prepare(self) -> None:
        from batch3dfier_spark.datagen import EXTENT_SMALL, REF_TERRITORY
        from batch3dfier_spark.operators.tiler import TileIndex
        from inputs import pages_path

        c = self.ctx
        self.pages = self.inputs = pages_path(c.cache_dir, c.seed, self.PAGES)
        self.territory = REF_TERRITORY
        self.index = TileIndex.regular_grid(REF_TERRITORY, self.GRID, self.GRID)
        self.poly = EXTENT_SMALL

    def calls(self, st):
        from pyspark.sql import functions as F

        from batch3dfier_spark.geo import polygon_bbox
        from batch3dfier_spark.operators import heights, neighbors, tiler
        from batch3dfier_spark.sources.pages import ingest_pages

        spark, seed = self.spark, self.ctx.seed
        out = os.path.join(self.ctx.work_dir, f"ingest-{st['k']}")
        st["dirs"] = [out]
        st["out"] = out

        yield ("pages.ingest_pages",
               lambda: ingest_pages(spark, self.pages, out, self.index,
                                    self.territory),
               lambda _: [])

        def counts():
            return spark.read.parquet(out).groupBy("tile_gid").count() \
                .toPandas()

        def check_counts(pdf):
            _require(int(pdf["count"].sum()) == self.PAGES,
                     "tile counts do not sum to the page count")
            st["tiles_counted"] = len(pdf)
            return list(pdf.itertuples(index=False, name=None))

        yield ("tiler.assign_counts", counts, check_counts)

        def rollup():
            g = spark.read.parquet(out).select(
                "url", "tile_gid", F.length("text").cast("double").alias("z"))
            h = heights.percentile_heights(g, "tile_gid", "z")
            j = heights.join_heights(g, h, "tile_gid")
            return j.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(*j.columns).bitwiseAND(0xFFFFFFFF))
                .alias("h")).collect()[0]

        def check_rollup(row):
            _require(row["n"] == self.PAGES,
                     f"join returned {row['n']} rows, not {self.PAGES}")
            return [(row["n"], row["h"])]

        yield ("heights.percentile_join", rollup, check_rollup)

        def extent():
            sel = tiler.select_tiles(self.index, self.poly)
            bb = polygon_bbox(self.poly)
            st["sel_gids"] = {int(g) for g in sel["gid"]}
            df = spark.read.parquet(out).where(
                F.col("tile_gid").isin(sorted(st["sel_gids"]))
                & F.col("x").between(bb.xmin, bb.xmax)
                & F.col("y").between(bb.ymin, bb.ymax))
            return tiler.extent_filter(df, self.poly) \
                .select("url", "tile_gid", "x", "y").toPandas()

        def check_extent(pdf):
            _require(len(pdf) > 0, "the extent query kept no rows")
            _require(set(pdf["tile_gid"].astype(int)) <= st["sel_gids"],
                     "a kept row lies outside the selected tiles")
            st["extent_kept"] = len(pdf)
            return list(pdf.itertuples(index=False, name=None))

        yield ("tiler.extent_filter", extent, check_extent)

        def knn():
            pts = spark.read.parquet(out).where(
                F.abs(F.xxhash64("url", F.lit(seed))) % self.SAMPLE_MOD == 0)
            return neighbors.knn_tiles(pts, self.index, k=self.K,
                                       keep=("url",)).toPandas()

        def check_knn(pdf):
            per = pdf.groupby("url")["nn_rank"].agg(["count", "min", "max"])
            _require(len(per) > 0, "the kNN sample is empty")
            _require(((per["count"] == self.K) & (per["min"] == 1)
                      & (per["max"] == self.K)).all(),
                     "a sampled point does not get k ranked tiles")
            st["knn_points"] = len(per)
            return list(pdf[["url", "nn_rank", "nn_gid", "nn_dist"]]
                        .itertuples(index=False, name=None))

        yield ("neighbors.knn_tiles", knn, check_knn)

    def cleanup(self, st: dict) -> None:
        st["ingest_files"] = sum(
            f.endswith(".parquet") for f in os.listdir(st["out"])) \
            if os.path.isdir(st["out"]) else 0
        super().cleanup(st)

    def detail(self, iters) -> dict:
        last = iters[-1]["st"]
        return {
            "ingest_rows_per_s": (self.PAGES / statistics.median(
                _call_times(iters, "pages.ingest_pages")), "rows/s"),
            "tiles_per_s": (last["tiles_counted"] / statistics.median(
                _call_times(iters, "tiler.assign_counts")), "tiles/s"),
            "joined_rows_per_s": (self.PAGES / statistics.median(
                _call_times(iters, "heights.percentile_join")), "rows/s"),
            "extent_s": (statistics.median(
                _call_times(iters, "tiler.extent_filter")), "s"),
            "knn_points_per_s": (last["knn_points"] / statistics.median(
                _call_times(iters, "neighbors.knn_tiles")), "points/s"),
        }

    def layer(self, st, spans, parsed) -> dict:
        h = [s for s in spans if s["name"] == "heights.percentile_join"][-1]
        bhj = sum(ops.count("BroadcastHashJoin") for ops in
                  parsed["plans"].get(f"{h['run_id']}:{h['id']}", []))
        return {
            "pages.files_written": st["ingest_files"],
            "tiler.extent_rows_scanned": sum(
                s["scan_rows"] for s in _stages(spans, "tiler.extent_filter")),
            "tiler.extent_rows_kept": st["extent_kept"],
            "heights.broadcast_joins": bhj,
            "neighbors.python_bytes_in": sum(
                s["python_bytes_in"]
                for s in _stages(spans, "neighbors.knn_tiles")),
        }


# -- near_dup ----------------------------------------------------------------

class NearDup(Workload):
    """The MinHash funnel + connected components, then the incremental
    near-dup path: register half the corpus, admit the other half."""

    name = "near_dup"
    DOCS = 1_000
    THRESHOLD = 0.5
    # Planted pairs have exact Jaccard >= 0.75, where 16 bands of 4
    # signature rows miss one with probability of about 0.2% per corpus:
    # requiring every pair would fail a correct engine on about one seed
    # in 500, while a kernel that loses duplicates loses more than two.
    MIN_RECALL = 0.98
    TABLE = "perfbench_neardup_state"
    n_calls = 4

    def generate(self) -> None:
        from inputs import near_dup_path

        near_dup_path(self.ctx.cache_dir, self.ctx.seed, self.DOCS)

    def prepare(self) -> None:
        from inputs import near_dup_path

        path, self.planted = near_dup_path(self.ctx.cache_dir, self.ctx.seed,
                                           self.DOCS)
        self.inputs = path
        pdf = pd.read_parquet(path)
        self.text = dict(zip(pdf["doc_id"].astype(int), pdf["text"]))
        self.docs = self.spark.read.parquet(path)
        self.half = self.DOCS // 2

    def calls(self, st):
        from pyspark.sql import functions as F

        from batch3dfier_spark.operators.dedup import (
            connected_components, minhash_near_dups,
        )
        from batch3dfier_spark.operators.incremental import (
            near_dedup_increment, register_minhash_corpus,
        )
        from inputs import shingle_jaccard

        spark = self.spark

        def funnel():
            return minhash_near_dups(self.docs, threshold=self.THRESHOLD) \
                .toPandas()

        def check_funnel(pdf):
            for a, b in zip(pdf["id_a"], pdf["id_b"]):
                j = shingle_jaccard(self.text[int(a)], self.text[int(b)])
                _require(j >= self.THRESHOLD,
                         f"pair ({a}, {b}) has Jaccard {j:.4f}")
            recall = _recall(pdf, self.planted)
            _require(recall >= self.MIN_RECALL,
                     f"planted-pair recall {recall:.3f}")
            st["pairs"] = pdf
            return list(pdf[["id_a", "id_b"]].itertuples(index=False,
                                                         name=None))

        yield ("dedup.minhash_near_dups", funnel, check_funnel)

        stats: dict = {}
        st["cc_stats"] = stats

        def components():
            pairs = spark.createDataFrame(
                st["pairs"][["id_a", "id_b"]],
                schema="id_a bigint, id_b bigint")
            return connected_components(pairs, stats=stats).toPandas()

        def check_components(pdf):
            want = _min_components(st["pairs"])
            got = dict(zip(pdf["id"].astype(int), pdf["component"].astype(int)))
            _require(got == want, "components differ from a union-find")
            return sorted(got.items())

        yield ("dedup.connected_components", components, check_components)

        corpus = self.docs.where(F.col("doc_id") < self.half)
        batch = self.docs.where(F.col("doc_id") >= self.half)

        def check_register(_):
            n = spark.table(self.TABLE + "_sigs").count()
            _require(n == self.half, f"state holds {n} signatures")
            return [(n,)]

        yield ("incremental.register_minhash_corpus",
               lambda: register_minhash_corpus(spark, corpus, self.TABLE),
               check_register)

        def increment():
            return near_dedup_increment(spark, batch, self.TABLE) \
                .select("doc_id").toPandas()

        def check_increment(pdf):
            ids = set(pdf["doc_id"].astype(int))
            _require(0 < len(ids) <= self.DOCS - self.half,
                     f"{len(ids)} documents admitted")
            _require(all(i >= self.half for i in ids),
                     "a corpus document was admitted")
            st["admitted"] = len(ids)
            return [(i,) for i in sorted(ids)]

        yield ("incremental.near_dedup_increment", increment, check_increment)

    def detail(self, iters) -> dict:
        funnel = [a + b for a, b in zip(
            _call_times(iters, "dedup.minhash_near_dups"),
            _call_times(iters, "dedup.connected_components"))]
        return {
            "neardup_docs_per_s": (self.DOCS / statistics.median(funnel),
                                   "docs/s"),
            "increment_docs_per_s": (
                (self.DOCS - self.half) / statistics.median(_call_times(
                    iters, "incremental.near_dedup_increment")), "docs/s"),
        }

    def probe(self) -> dict:
        """Traced-run-only probe: LSH candidates before any screen."""
        from batch3dfier_spark.operators.dedup import (
            lsh_candidates, minhash_signatures,
        )

        return {"dedup.candidate_pairs":
                lsh_candidates(minhash_signatures(self.docs)).count()}

    def cleanup(self, st: dict) -> None:
        wh = self.ctx.warehouse
        st["state_bytes"] = sum(
            _tree_bytes(os.path.join(wh, d)) for d in os.listdir(wh)
            if d.startswith(self.TABLE))
        super().cleanup(st)

    def layer(self, st, spans, parsed) -> dict:
        pairs = st["pairs"]
        return {
            "dedup.pairs_out": len(_pair_set(pairs["id_a"], pairs["id_b"])),
            "dedup.planted_recall": _recall(pairs, self.planted),
            "dedup.cc_rounds": st["cc_stats"].get("rounds", 0),
            "dedup.python_bytes_in": sum(
                s["python_bytes_in"] for name in (
                    "dedup.minhash_near_dups", "dedup.connected_components")
                for s in _stages(spans, name)),
            "incremental.admitted_ratio": st["admitted"] / (
                self.DOCS - self.half),
            "incremental.state_bytes": st["state_bytes"],
        }


def _pair_set(a, b) -> set:
    return {(min(x, y), max(x, y)) for x, y in zip(a, b)}


def _recall(pairs: pd.DataFrame, planted: list) -> float:
    """Share of the planted (source, copy) pairs among the reported pairs."""
    found = _pair_set(pairs["id_a"].astype(int), pairs["id_b"].astype(int))
    want = _pair_set(*zip(*planted))
    return len(found & want) / len(want)


def _min_components(pairs: pd.DataFrame) -> dict:
    """Union-find reference: node -> minimum id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["id_a"].astype(int), pairs["id_b"].astype(int)):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


WORKLOADS = {w.name: w for w in (TileJob, TileRollup, NearDup)}
