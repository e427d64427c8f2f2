"""The benchmark workloads.

Each workload drives public ``sparkfuse`` calls: ``build`` goes from input
parquet to a usable forest handle and ``query`` from the call to a counted
result. Both are timed by the runner. ``check`` runs
outside the timed region and returns the problems it found in an op's
outputs; every problem counts the op as failed.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import functions as F

import gen
from sparkfuse.forest import Forest, build_forest, build_forest_driver
from sparkfuse.keys import dedup_keys
from sparkfuse.kernels import build_fuse, build_xor
from sparkfuse.probe import probe_forest
from sparkfuse.serialize import save_fuse_bytes
from sparkfuse.transcripts import build_transcript_filter, probe_turns, transcript_key

# Published bounds for 8-bit fingerprint filters: fpp 2^-8 (~0.39%) at 9-10
# bits/key (fuse8 measures 9.0-9.3 at these sizes). The fpp bound adds five
# standard deviations of the observed rate, so a correct filter does not
# trip it by chance.
FPP_8 = 1 / 256
MAX_BITS_PER_KEY = 10.0


def fpp_bound(nonmembers: int) -> float:
    return FPP_8 + 5 * (FPP_8 / max(nonmembers, 1)) ** 0.5


class Workload:
    """One workload's inputs, timed ops and output checks."""

    name = ""
    # call sites of the planning jobs, as (action, module file); see
    # eventlog.op_metrics
    planners = {"build": ("first", "forest.py"), "query": ("first", "probe.py")}

    def __init__(self, seed: int, root: str, cores: int):
        self.seed = seed
        self.cores = cores
        self.inputs = os.path.join(root, "inputs")
        self.truth: dict = {}
        self.shas: list = []
        self.payload_bytes = 0

    # -- set-up --------------------------------------------------------
    def generate(self) -> dict:
        """Write the inputs; returns ``rows`` written and what
        ``set_truth`` needs."""
        raise NotImplementedError

    def set_truth(self, out: dict) -> None:
        """Ground truth for the checks, computed outside Spark."""
        raise NotImplementedError

    def open(self, spark) -> None:
        raise NotImplementedError

    # -- timed ops -----------------------------------------------------
    def build(self):
        raise NotImplementedError

    def query(self, handle) -> dict:
        raise NotImplementedError

    def release(self, handle) -> None:
        pass

    # -- checks and layer figures (untimed) ----------------------------
    def forest_summary(self, handle) -> tuple[list, int, int]:
        """(sorted (shard, content_sha256) pairs, payload bytes, keys held)."""
        raise NotImplementedError

    def check(self, handle) -> list[str]:
        """Build-side checks: repeat determinism, key count, space."""
        problems = []
        shas, self.payload_bytes, nkeys = self.forest_summary(handle)
        if self.shas and shas != self.shas:
            problems.append("content_sha256 differs between repeats of one build")
        self.shas = self.shas or shas
        if nkeys != self.distinct_keys:
            problems.append(f"forest holds {nkeys} keys, input has "
                            f"{self.distinct_keys} distinct")
        if self.bits_per_key > MAX_BITS_PER_KEY:
            problems.append(f"{self.bits_per_key:.3f} bits/key above the fuse8 bound")
        return problems

    def check_query(self, result: dict) -> list[str]:
        raise NotImplementedError

    @property
    def bits_per_key(self) -> float:
        return 8 * self.payload_bytes / self.distinct_keys

    def prescreen(self, handle, result: dict) -> dict:
        """Prescreen survivors, false positives among the non-member probes,
        and rows the exact confirm kept."""
        raise NotImplementedError

    def dedup_input(self):
        """The build's key column, for the standalone dedup measurement."""
        raise NotImplementedError

    def lineage_rows(self, handle) -> list[dict]:
        """The forest's rows with per-shard lineage (``FOREST_SCHEMA``)."""
        raise NotImplementedError

    @property
    def distinct_keys(self) -> int:
        return self.truth["distinct_keys"]

    @property
    def probe_rows(self) -> int:
        return self.truth["members"] + self.truth["nonmembers"]


def _summary(rows: list[dict]) -> tuple[list, int, int]:
    return (sorted((int(r["shard"]), r["content_sha256"]) for r in rows),
            sum(len(r["payload"]) for r in rows),
            sum(int(r["nkeys"]) for r in rows))


class UniformKeys(Workload):
    """fuse8 forest over uniform keys, probed keys-only by the planner's
    broadcast regime: numpy peel and the Arrow-batch probe gather."""

    name = "uniform_keys"
    spec = gen.KeySpec(n_keys=1_200_000, n_probes=4_800_000, member_every=6)

    def generate(self) -> dict:
        return gen.write_keys(self.seed, self.spec, self.inputs, self.cores)

    def set_truth(self, out: dict) -> None:
        probes = out["probes"]
        members = int(np.count_nonzero((probes & 1) == 0))
        self.truth = {
            "distinct_keys": len(np.unique(out["keys"])),
            "members": members,
            "nonmembers": len(probes) - members,
        }

    def open(self, spark) -> None:
        self.spark = spark
        self.keys = spark.read.parquet(os.path.join(self.inputs, "keys"))
        self.probes = spark.read.parquet(os.path.join(self.inputs, "probes"))

    def build(self):
        # persisted so the query's planner reads the built rows instead of
        # building again (probe_forest's documented contract)
        fdf = build_forest(self.keys, min_shards=self.cores).persist()
        return fdf, Forest.from_df(fdf)

    def query(self, handle) -> dict:
        fdf, _ = handle
        hit = F.col("maybe_member")
        member = F.col("key").bitwiseAND(1) == 0
        r = (probe_forest(self.probes, "key", fdf, self.spark)
             .agg(F.count_if(hit & member).alias("tp"),
                  F.count_if(hit & ~member).alias("fp"))
             .first())
        return {"member_hits": r["tp"], "nonmember_hits": r["fp"]}

    def release(self, handle) -> None:
        handle[0].unpersist()

    def lineage_rows(self, handle) -> list[dict]:
        return [r.asDict() for r in handle[0].collect()]

    def forest_summary(self, handle) -> tuple[list, int, int]:
        return _summary(self.lineage_rows(handle))

    def check_query(self, result: dict) -> list[str]:
        problems = []
        if result["member_hits"] != self.truth["members"]:
            problems.append(f"false negatives: {result['member_hits']} of "
                            f"{self.truth['members']} member probes hit")
        fpp = result["nonmember_hits"] / self.truth["nonmembers"]
        if fpp > fpp_bound(self.truth["nonmembers"]):
            problems.append(f"fpp {fpp:.5f} above the fuse8 bound")
        return problems

    def prescreen(self, handle, result: dict) -> dict:
        # no confirm step: every survivor is an answer
        return {"survivors": result["member_hits"] + result["nonmember_hits"],
                "false_positives": result["nonmember_hits"], "confirmed": 0}

    def dedup_input(self):
        return self.keys


class Transcripts(Workload):
    """Text-key forest over a skewed transcript table with a duplicate pool and
    an exact per-turn probe: JVM string hashing, the dedup shuffle, the
    confirm semi-join and wide rows crossing the pandas UDF boundary."""

    name = "transcripts"
    spec = gen.TranscriptSpec(n_turns=500_000)
    planners = {"build": ("first", "forest.py"), "query": None}

    def generate(self) -> dict:
        return gen.write_transcripts(self.seed, self.spec, self.inputs, self.cores)

    def set_truth(self, out: dict) -> None:
        members = gen.semi_join_count(out["probe_texts"], out["texts"])
        self.truth = {
            "distinct_keys": pc.count_distinct(out["texts"]).as_py(),
            "members": members,
            "nonmembers": len(out["probe_texts"]) - members,
        }

    def open(self, spark) -> None:
        self.spark = spark
        self.tr = spark.read.parquet(os.path.join(self.inputs, "transcripts"))
        self.probe_tr = spark.read.parquet(os.path.join(self.inputs, "probe_transcripts"))

    def build(self):
        return build_transcript_filter(self.tr, "text")

    def query(self, forest) -> dict:
        n = probe_turns(self.probe_tr, forest, "text", build_side=self.tr, exact=True).count()
        return {"confirmed": n}

    def forest_summary(self, forest) -> tuple[list, int, int]:
        # the handle keeps filters, not rows; a row's payload is this same
        # serialization, so its sha256 is the row's content_sha256
        payloads = {s: save_fuse_bytes(f) for s, f in forest.filters.items()}
        return (sorted((s, hashlib.sha256(p).hexdigest()) for s, p in payloads.items()),
                sum(len(p) for p in payloads.values()), forest.nkeys)

    def check_query(self, result: dict) -> list[str]:
        if result["confirmed"] != self.truth["members"]:
            return [f"exact query counted {result['confirmed']}, the semi-join "
                    f"{self.truth['members']}"]
        return []

    def prescreen(self, forest, result: dict) -> dict:
        survivors = probe_turns(self.probe_tr, forest, "text", exact=False).count()
        return {"survivors": survivors, "false_positives": survivors - self.truth["members"],
                "confirmed": result["confirmed"]}

    def dedup_input(self):
        return self.tr.select(transcript_key("text").alias("key"))

    def lineage_rows(self, forest) -> list[dict]:
        """The handle drops the lineage rows, so this builds the same forest
        again through ``build_forest`` and reads them there: the same
        deduped keys and the same deterministic kernel."""
        rows = [r.asDict() for r in build_forest(dedup_keys(self.dedup_input())).collect()]
        if _summary(rows)[0] != self.forest_summary(forest)[0]:
            raise ValueError("rebuilt forest differs from the handle's")
        return rows


WORKLOADS = {w.name: w for w in (UniformKeys, Transcripts)}


def kernel_microbench(n_keys: int = 1 << 19, batch: int = 65536, loops: int = 30) -> dict:
    """Driver-only kernel rates, no Spark: the drift bracket. Best of two
    builds each, on keys that do not depend on the workload seed."""
    keys = gen.member_key(0, np.arange(n_keys))
    u64 = keys.view(np.uint64)
    out = {}
    for name, fn in (("fuse", build_fuse), ("xor", build_xor)):
        best = float("inf")
        for _ in range(2):
            t = time.perf_counter()
            fn(u64, width=8)
            best = min(best, time.perf_counter() - t)
        out[f"build_{name}_s"] = best
    forest = build_forest_driver(keys)
    probe = np.concatenate([keys[: batch // 2], gen.nonmember_key(0, np.arange(batch - batch // 2))])
    t = time.perf_counter()
    for _ in range(loops):
        forest.contains_np(probe)
    out["contains_s"] = (time.perf_counter() - t) / loops
    out["n_keys"] = n_keys
    out["batch"] = batch
    return out
