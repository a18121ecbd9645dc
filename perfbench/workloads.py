"""The benchmark's workloads: inputs, set-up, the calls in order, and the
check of every call's output.

A call is one operation. It runs inside a span named after the layer it
enters (``<module>.<function>``) and returns its output, which is checked after the pass, outside
every timed region.
"""

from __future__ import annotations

import hashlib
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd

from perfbench import checks, inputs


@dataclass
class Call:
    span: str  # layer prefix the call's span is recorded under
    key: str  # identifies the output for its check
    fn: Callable[[], object]


def _first(df, col):
    return int(df.collect()[0][col])


def _table(rows, cols: list[str]) -> list[list[int]]:
    """Collected rows (Spark or pandas) as sorted integer tuples."""
    if isinstance(rows, pd.DataFrame):
        rows = rows.to_dict("records")
    return sorted([int(r[c]) for c in cols] for r in rows)


def _pairs(a: np.ndarray) -> list[list[int]]:
    """Undirected (min, max) pairs, deduped and sorted."""
    a = np.asarray(a, dtype=np.int64).reshape(-1, 2)
    return np.unique(np.sort(a, axis=1), axis=0).tolist()


# ---------------------------------------------------------- co-purchase --
M5_DENSE10 = [
    "m5_000", "m5_001", "m5_003", "m5_004", "m5_007",
    "m5_008", "m5_011", "m5_017", "m5_019", "m5_020",
]
STAR2 = ["center_label", "l1", "l2", "n"]
STAR3 = ["center_label", "l1", "l2", "l3", "n"]
MNI2 = ["center_label", "l1", "l2", "support"]


def _on_mod4(sql: str) -> str:
    """An oracle's SQL over the (src + dst) % 4 == 0 subgraph."""
    from peregrine_spark.plans import oracles

    sparse = sql.replace(
        oracles._graph_prelude("copurchase"), oracles._graph_prelude_sparse("copurchase", 4)
    )
    if sparse == sql:
        raise ValueError("oracle SQL does not start from the co-purchase prelude")
    return sparse


class CopurchaseMining:
    """Pattern kernels and label layers on a near-uniform, brand-labelled
    co-purchase graph: 4-cycles, 2- and 3-star label discovery, 2-star MNI
    supports, and bench.py's groups10 recipe (the group counter plus the
    clique path)."""

    name = "copurchase-mining"
    n_orders, n_parts = 3000, 1000

    def prepare(self, cache: Path, seed: int) -> dict:
        return inputs.make_copurchase(cache, seed, self.n_orders, self.n_parts)

    def setup(self, spark, inp: dict, tr) -> dict:
        from pyspark.sql import functions as F

        from peregrine_spark.sources.testdata import copurchase_edges, part_labels

        with tr.span("sources.copurchase_edges"):
            edges = copurchase_edges(spark, inp["dir"]).cache()
            n = edges.count()
            e4 = edges.filter((F.col("src") + F.col("dst")) % 4 == 0).cache()
            e4.count()
        labels = part_labels(spark, inp["dir"]).cache()
        labels.count()
        return {"edges": edges, "e4": e4, "labels": labels, "edges_rows": n}

    def release(self, st: dict) -> None:
        for k in ("edges", "e4", "labels"):
            st[k].unpersist()

    def calls(self, spark, inp: dict, st: dict, tr) -> list[Call]:
        from peregrine_spark.operators.groups import GroupCountContext, group_count_many
        from peregrine_spark.operators.labels import (
            discover_star_labels,
            discover_star_labels_3,
            mni_star2_supports,
        )
        from peregrine_spark.operators.motifs import all_motifs, cycle4_count
        from peregrine_spark.operators.patterns import clique_count

        edges, e4, lab = st["edges"], st["e4"], st["labels"]
        cat5 = all_motifs(5)

        def groups10():
            # bench.py's motifs5_groups10_mod4: nine classes through the
            # group counter, K5 through the clique path on the same context
            with tr.span("groups.group_count_many"):
                ctx = GroupCountContext(e4)
                out = group_count_many(
                    e4, {n: cat5[n] for n in M5_DENSE10 if n != "m5_020"}, ctx
                )
            with tr.span("patterns.clique_count"):
                out["m5_020"] = _first(clique_count(e4, 5), "n_cliques")
            ctx.unpersist()
            return {k: int(v) for k, v in out.items()}

        return [
            Call("motifs.cycle4_count", "cycle4",
                 lambda: _first(cycle4_count(edges), "n_cycles")),
            Call("labels.discover_star_labels", "star2",
                 lambda: discover_star_labels(edges, lab).collect()),
            # the 3-star oracle joins every 3-star, Σ C(deg, 3) rows, so
            # this call runs on the quarter-density mod-4 subgraph
            Call("labels.discover_star_labels_3", "star3",
                 lambda: discover_star_labels_3(e4, lab).collect()),
            Call("labels.mni_star2_supports", "mni_star2",
                 lambda: mni_star2_supports(edges, lab).collect()),
            Call("groups10", "groups10", groups10),
        ]

    def expected(self, inp: dict, st: dict) -> tuple[dict, float, bool]:
        """The seed's relabeling keeps every expected value, so they are
        computed on the first seed's input and cached for the base draw."""

        def compute():
            from peregrine_spark.plans import oracles

            con = checks.duckdb_views(inp["dir"], ["lineitem", "part"])

            def q(sql):
                return con.execute(sql).df()

            g10 = q(oracles.motifs_ei_subset_sql(5, M5_DENSE10, mod=4))
            edges = con.execute(f"SELECT COUNT(*) FROM ({oracles.edges_sql('copurchase')})")
            return {
                "edges_rows": int(edges.fetchone()[0]),
                "cycle4": int(con.execute(oracles.cycle4_count_sql()).fetchone()[0]),
                "star2": _table(q(oracles.star2_labels_sql("copurchase")), STAR2),
                "star3": _table(q(_on_mod4(oracles.star3_labels_sql("copurchase"))), STAR3),
                "mni_star2": _table(q(oracles.mni_star2_supports_sql("copurchase")), MNI2),
                "groups10": {str(m): int(n) for m, n in zip(g10["motif"], g10["n"])},
            }

        base = Path(inp["dir"]).parent / f"expected_{self.name}_o{self.n_orders}_p{self.n_parts}.json"
        return checks.cached(base, compute)

    def check_setup(self, inp: dict, st: dict, exp: dict) -> dict[str, bool]:
        return {"sources.copurchase_edges": st["edges_rows"] == exp["edges_rows"]}

    def check(self, key: str, out, exp: dict) -> bool:
        cols = {"star2": STAR2, "star3": STAR3, "mni_star2": MNI2}.get(key)
        if cols is not None:
            return _table(out, cols) == exp[key]
        return out == exp[key]


# ------------------------------------------------------------ repo-zipf --
class RepoZipf:
    """A zipf repo catalog with a mega-hub: ingest, the undirected closure
    and degrees, triangles, and label propagation writing a parquet
    checkpoint every superstep. At this size the hub keeps under the
    engine's 65,536-row hub threshold and triangles take the broadcast
    route, so the skewed degrees reach the default routes only."""

    name = "repo-zipf"
    n_files = 5_000
    lp_steps = 2

    def prepare(self, cache: Path, seed: int) -> dict:
        return inputs.make_catalog(cache, seed, self.n_files)

    def setup(self, spark, inp: dict, tr) -> dict:
        from peregrine_spark.sources.ingest import extract_edges, vertex_map

        rf = spark.read.parquet(f"{inp['dir']}/repo_files.parquet")
        with tr.span("sources.extract_edges"):
            edges = extract_edges(rf).cache()
            n = edges.count()
        with tr.span("sources.vertex_map"):
            vm = vertex_map(rf).cache()
            vm.count()
        return {"edges": edges, "vertex_map": vm, "edges_rows": n}

    def release(self, st: dict) -> None:
        for k in ("edges", "vertex_map"):
            st[k].unpersist()

    def calls(self, spark, inp: dict, st: dict, tr) -> list[Call]:
        from peregrine_spark.operators.graph import degrees, undirected
        from peregrine_spark.operators.iterative import label_propagation
        from peregrine_spark.operators.triangles import triangle_count

        edges = st["edges"]
        ckpt = Path(inp["work_dir"]) / "label_propagation"

        def lp():
            shutil.rmtree(ckpt, ignore_errors=True)
            res = label_propagation(spark, edges, n_iter=self.lp_steps,
                                    checkpoint_dir=str(ckpt), resume=False)
            res.state.count()
            return res

        return [
            Call("graph.undirected", "undirected", lambda: undirected(edges).collect()),
            Call("graph.degrees", "degrees", lambda: degrees(edges).collect()),
            Call("triangles.triangle_count", "triangles",
                 lambda: _first(triangle_count(edges), "n_triangles")),
            Call("iterative.label_propagation", "label_propagation", lp),
        ]

    def expected(self, inp: dict, st: dict) -> tuple[dict, float, bool]:
        """Truth from the catalog itself: each file's sha256, and the
        synthesizer's reference pairs (as file indices, in the direction
        extract_edges gives them), with their triangle
        count (ids do not change it); these are cached per catalog.

        Degrees, the undirected closure and label propagation depend on
        the ids, so their references are recomputed on every run, in the
        id space of that run's own vertex_map (``ids``, None when the
        vertex_map is not a bijection onto the catalog with the right
        sha256 values)."""

        def compute():
            from peregrine_spark import reference as R

            files = pd.read_parquet(f"{inp['dir']}/repo_files.parquet", columns=["content"])
            truth = np.load(f"{inp['dir']}/truth_pairs.npy")
            return {
                "sha256": [hashlib.sha256(c.encode()).hexdigest() for c in files["content"]],
                "edges": np.unique(truth, axis=0).tolist(),
                "triangles": R.triangle_count(truth),
            }

        exp, ref_s, was_cached = checks.cached(
            Path(inp["dir"]) / f"expected_{self.name}.json", compute
        )
        return {**exp, **self._per_run(inp, st, exp)}, ref_s, was_cached

    def _per_run(self, inp: dict, st: dict, exp: dict) -> dict:
        from peregrine_spark import reference as R

        ids = self._ids_by_file(inp, st, exp["sha256"])
        if ids is None:
            return {"ids": None}
        pairs = ids[np.asarray(exp["edges"], dtype=np.int64).reshape(-1, 2)]
        lp = R.label_propagation(pairs, n_iter=self.lp_steps)
        return {
            "ids": ids,
            "undirected": _pairs(pairs) + [[b, a] for a, b in _pairs(pairs)],
            "degrees": sorted([k, v] for k, v in R.degrees(pairs).items()),
            "label_propagation": {str(k): v for k, v in lp.items()},
        }

    @staticmethod
    def _ids_by_file(inp: dict, st: dict, sha: list) -> np.ndarray | None:
        """The run's vertex_map ids in catalog file order, if the map has
        exactly one row per file, distinct ids, and each file's sha256."""
        files = pd.read_parquet(f"{inp['dir']}/repo_files.parquet", columns=["repo", "path"])
        vm = st["vertex_map"].toPandas()
        row = dict(zip(vm["repo"] + "\x1f" + vm["path"], zip(vm["id"], vm["sha256"])))
        got = [row.get(k) for k in files["repo"] + "\x1f" + files["path"]]
        if len(vm) != len(files) or any(g is None or g[1] != h for g, h in zip(got, sha)):
            return None
        ids = np.array([g[0] for g in got], dtype=np.int64)
        return ids if len(np.unique(ids)) == len(ids) else None

    def check_setup(self, inp: dict, st: dict, exp: dict) -> dict[str, bool]:
        ids = exp["ids"]
        if ids is None:
            return {"sources.vertex_map": False, "sources.extract_edges": False}
        index = {int(v): i for i, v in enumerate(ids)}
        got = st["edges"].toPandas()
        edges = sorted(
            [index.get(int(a), -1), index.get(int(b), -1)] for a, b in zip(got["src"], got["dst"])
        )
        return {"sources.vertex_map": True, "sources.extract_edges": edges == exp["edges"]}

    def check(self, key: str, out, exp: dict) -> bool:
        if key == "triangles":
            return out == exp[key]
        if exp["ids"] is None:  # no id space to check the output in
            return False
        if key == "undirected":
            return sorted([int(r["src"]), int(r["dst"])] for r in out) == sorted(exp[key])
        if key == "degrees":
            return _table(out, ["id", "deg"]) == exp[key]
        got = checks.frame_map(out.state.toPandas(), "id", "label")
        return out.supersteps == self.lp_steps and got == exp[key]


WORKLOADS = {w.name: w for w in (CopurchaseMining(), RepoZipf())}
