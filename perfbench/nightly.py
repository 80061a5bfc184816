"""nightly_maintenance: one maintenance job at a time over a skewed corpus.

Each cycle builds a fresh fragmented table (one small append per group
of repos, as project-rag appends per root), merges an edit of every file
in two repo groups (about 10% of the corpus), deletes one repo's
``src/ui/`` subtree, then compacts, Z-order clusters, rewrites manifests,
expires every older snapshot and finishes with the verify scan (per-row
``sha2(content, 256)``).  Point lookups on the maintained table follow,
as the reads users make between maintenance runs.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

import engine.corpus as corpus_mod
import engine.ops.cluster as cluster_mod
import engine.ops.compact as compact_mod
import engine.ops.delete as delete_mod
import engine.ops.expire as expire_mod
import engine.ops.manifest as manifest_mod
import engine.ops.merge as merge_mod
import engine.tablefmt as tablefmt_mod
from common import Ctx, dir_usage, median, merge_stats, quantile
from inputs import rng_for

N_FILES = 4_000
N_REPOS = 50
N_APPENDS = 16  # one per repo group: repo index mod N_APPENDS
FILES_PER_APPEND = 8
DELTA_GROUPS = 2  # groups whose every file is edited per cycle
READS_PER_CYCLE = 16  # point lookups after each cycle, half of edited files
WARMUP_READS = 64  # the read path is still cold after one cycle's reads
SETUP_REPEATS = 3
WARMUP_CYCLES = 1


class Nightly:
    name = "nightly_maintenance"
    op_metric = "cycle_s"  # the report-line name of its unit of work

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.records: list[dict] = []
        self.seq = 0  # cycles run, warm-up included: names tables and deltas

    # -- set-up ---------------------------------------------------------------
    def setup(self) -> dict[str, float]:
        ctx, spark = self.ctx, self.ctx.spark
        gen = []
        for r in range(SETUP_REPEATS):
            path = os.path.join(ctx.work, f"corpus-{r}")
            t0 = time.perf_counter()
            corpus_mod.generate_corpus(
                spark, N_FILES, n_repos=N_REPOS, seed=ctx.seed, skew=True,
                version_col=True, partitions=ctx.cores,
            ).write.parquet(path)
            gen.append(time.perf_counter() - t0)
        self.base = spark.read.parquet(path).withColumn(
            "_group", F.substring("repo", 6, 4).cast("int") % N_APPENDS
        ).cache()
        self.keys = self.base.select("repo", "path", "commit", "_group").orderBy("repo", "path").collect()
        self.base_content_bytes = self.base.agg(F.sum(F.length("content"))).first()[0]
        t0 = time.perf_counter()
        for _ in range(WARMUP_CYCLES):  # JIT, codegen caches, python workers
            self.unit(-1)
            self.records.pop()
        warmup = time.perf_counter() - t0
        return {"corpus.generate_s": median(gen), "warmup_s": warmup}

    def _probes(self, rng, n: int, groups: list[int], victim: str, delta) -> list[tuple[str, str, str]]:
        """(repo, path, expected commit) of rows to read back: half edited
        by this cycle's delta, half untouched; none deleted by it."""
        live = [k for k in self.keys
                if not (k["repo"] == victim and k["path"].startswith("src/ui/"))]
        edited = [k for k in live if k["_group"] in groups]
        kept = [k for k in live if k["_group"] not in groups]
        half = n // 2
        pick = [edited[j] for j in rng.choice(len(edited), half, replace=False)]
        new = {(r["repo"], r["path"]): r["commit"] for r in delta.filter(
            F.col("path").isin([k["path"] for k in pick])).select("repo", "path", "commit").collect()}
        out = [(k["repo"], k["path"], new[k["repo"], k["path"]]) for k in pick]
        out += [(k["repo"], k["path"], k["commit"])
                for k in (kept[j] for j in rng.choice(len(kept), n - half, replace=False))]
        return out

    # -- one unit of work -----------------------------------------------------
    def unit(self, index: int) -> tuple[float, list[float]]:
        """One cycle; returns (cycle seconds, point-read seconds)."""
        ctx, spark = self.ctx, self.ctx.spark
        i, self.seq = self.seq, self.seq + 1
        rng = rng_for(ctx.seed, f"cycle-{i}")
        root = os.path.join(ctx.work, f"table-{i}")
        # group 0 holds the mega-repo; the edits go to two others
        groups = [int(g) for g in rng.choice(range(1, N_APPENDS), DELTA_GROUPS, replace=False)]
        delta = corpus_mod.bump_versions(
            self.base.filter(F.col("_group").isin(groups)).drop("_group"), ctx.seed
        )
        # the deleted subtree lies outside the delta, so replaying the
        # delta after the delete must change nothing
        victim = f"repo_{int(rng.choice([r for r in range(1, N_REPOS) if r % N_APPENDS not in groups])):04d}"
        delete_pred = f"repo = '{victim}' AND path LIKE 'src/ui/%'"
        n_reads = WARMUP_READS if index < 0 else READS_PER_CYCLE
        probes = self._probes(rng, n_reads, groups, victim, delta)
        ctx.release()

        t0 = time.perf_counter()
        table = tablefmt_mod.Table.create(root)
        for k in range(N_APPENDS):
            ctx.op("append", tablefmt_mod.append, spark, table,
                   self.base.filter(F.col("_group") == k), num_files=FILES_PER_APPEND)
        merged = ctx.op("merge", merge_mod.merge_into, spark, table, delta)
        deleted = ctx.op("delete", delete_mod.delete_where, spark, table,
                         predicate=delete_pred)
        live = table.total_bytes()
        # >= 2 output files per core out of both rewrites
        compacted = ctx.op("compact", compact_mod.compact, spark, table,
                           target_bytes=max(1, live // (2 * ctx.cores)))
        clustered = ctx.op("cluster", cluster_mod.cluster, spark, table,
                           curve="zorder", num_files=2 * ctx.cores)
        manifests = ctx.op("manifest", manifest_mod.rewrite_manifests, table)

        t1 = time.perf_counter()
        files_written, written = dir_usage(table.data_dir)
        merge_info = merge_stats(table, merged)
        manifests_live = len(table.snapshot(merged.snapshot_id).manifests)
        replay = ctx.op("replay", merge_mod.merge_into, spark, table, delta)
        retained = table.current_snapshot_id
        before = [(e.path, e.bytes) for e in table.files(retained)]
        # expire runs off the cycle clock and is reported as expire_s: it
        # unlinks every replaced file, and on a filesystem mounted with
        # online discard the same unlinks take from 0.03 s to 5 s
        expired = ctx.op("expire", expire_mod.expire_snapshots, table,
                         retain_last=1, min_age_s=0)
        # data files are immutable: the same entries, sizes on disk
        # included, mean the retained snapshot reads the same bytes
        after = [(e.path, os.path.getsize(os.path.join(root, e.path)))
                 for e in table.files(retained)]
        excluded = time.perf_counter() - t1  # checks and expire: off the clock
        digest = ctx.op("scan", lambda: corpus_mod.corpus_digest(table.scan(spark, as_of=retained)))
        cycle_s = time.perf_counter() - t0 - excluded

        reads, scanned = [], []
        for repo, path, want in probes:
            pred = [("repo", "==", repo), ("path", "==", path)]
            t = time.perf_counter()
            got = ctx.op("read", lambda: table.scan(spark, pred=pred, columns=["commit"]).collect())
            reads.append(time.perf_counter() - t)
            ctx.check([r["commit"] for r in got] == [want],
                      f"cycle {i}: read of {repo}/{path} did not return commit {want}")
            if ctx.tracer is not None:  # metadata probe, traced units only
                scanned.append(len(table.files(pred=pred)) / max(1, len(table.files())))

        ctx.check(replay.snapshot_id is None, f"cycle {i}: replayed merge committed a snapshot")
        space_amp = dir_usage(root)[1] / max(1, table.total_bytes())
        # the digest stands for the table in the checks: delete it while its
        # files are still unwritten, the cheap moment (see Ctx.release)
        shutil.rmtree(root, ignore_errors=True)
        self.records.append({
            "i": i, "delta": delta, "delete_pred": delete_pred,
            "digest": digest, "retained_same": before == after, "written": written,
            "files_written": files_written, "merge_stats": merge_info, "scanned": scanned,
            "manifests_live": manifests_live,
            "space_amp": space_amp,
            "merge": merged, "delete": deleted, "compact": compacted,
            "cluster": clustered, "rewrite": manifests, "expire": expired,
        })
        return cycle_s, reads

    # -- output checks (outside the timed window) -----------------------------
    def verify(self) -> dict[str, tuple[float, str]]:
        ctx = self.ctx
        amps = []
        for c in self.records:
            delta = c["delta"].select(*tablefmt_mod.CORPUS_SCHEMA.fieldNames())
            expected = (
                self.base.select(*delta.columns)
                .join(delta.select("repo", "path"), ["repo", "path"], "left_anti")
                .unionByName(delta)
                .filter(~F.coalesce(F.expr(c["delete_pred"]), F.lit(False)))
            )
            want = corpus_mod.corpus_digest(expected)
            ctx.check(c["digest"] == want, f"cycle {c['i']}: table digest != expected rows")
            ctx.check(c["retained_same"],
                      f"cycle {c['i']}: retained snapshot changed across expire")
            ctx.check(c["merge"].snapshot_id is not None and c["merge"].rows_updated > 0,
                      f"cycle {c['i']}: merge changed nothing")
            submitted = self.base_content_bytes + delta.agg(F.sum(F.length("content"))).first()[0]
            amps.append(c["written"] / submitted)
        last = self.records[-1] if self.records else {}
        t = ctx.times
        return {
            "write_amp": (median(amps), "ratio"),
            "space_amp": (last.get("space_amp", 0.0), "ratio"),
            "scan_files_per_s": (N_FILES / median(t["scan"]) if t.get("scan") else 0.0, "files/s"),
            "expire_s": (median(t.get("expire", [])), "s"),
            "read_p50_ms": (quantile(t.get("read", []), 0.5) * 1e3, "ms"),
            "read_p80_ms": (quantile(t.get("read", []), 0.8) * 1e3, "ms"),
        }

    # -- per-layer metrics of the traced window -------------------------------
    def layer_metrics(self, tracer) -> dict[str, float]:
        t = self.ctx.times
        cyc = self.records
        n = max(1, len({s.op_id for s in tracer.spans}))  # traced cycles
        compact_mb = [
            c["compact"].bytes_in / 1e6 / s
            for c, s in zip(cyc, t.get("compact", [])) if s > 0
        ]
        out = {
            "tablefmt.append_s": median(t.get("append", [])),
            "tablefmt.write_files_s": median(tracer.durations("Table.write_data_files")),
            "tablefmt.files_written": median([c["files_written"] for c in cyc]),
            "tablefmt.bytes_written": median([c["written"] for c in cyc]),
            "tablefmt.commit_s": median(tracer.durations("Table.commit")),
            "tablefmt.plan_s": median(tracer.durations("Table.files") + tracer.durations("Table.scan")),
            "tablefmt.manifests_live": median([c["manifests_live"] for c in cyc]),
            "tablefmt.files_scanned_frac": median([f for c in cyc for f in c["scanned"]]),
            "merge.s": median(t.get("merge", [])),
            "merge.candidate_files": median([c["merge_stats"][0] for c in cyc]),
            "merge.files_rewritten": median([c["merge"].files_rewritten for c in cyc]),
            "merge.rows_written_per_changed_row": median([c["merge_stats"][1] for c in cyc]),
            "merge.replay_s": median(t.get("replay", [])),
            "compact.s": median(t.get("compact", [])),
            "compact.files_in": median([c["compact"].files_in for c in cyc]),
            "compact.files_out": median([c["compact"].files_out for c in cyc]),
            "compact.mb_per_s": median(compact_mb),
            "cluster.s": median(t.get("cluster", [])),
            "delete.s": median(t.get("delete", [])),
            "delete.files_rewritten": median([c["delete"].files_rewritten for c in cyc]),
            "manifest.rewrite_s": median(t.get("manifest", [])),
            "manifest.count_after": median([c["rewrite"].manifests_after for c in cyc]),
            "expire.s": median(t.get("expire", [])),
            "expire.orphans_deleted": median([c["expire"].orphans_deleted for c in cyc]),
            "expire.bytes_reclaimed": median([c["expire"].bytes_reclaimed for c in cyc]),
            "checkpoint.save_calls": tracer.count("Ledger.save") / n,
            "checkpoint.save_s": sum(tracer.durations("Ledger.save")) / n,
        }
        for step in ("sample", "quantiles", "write", "move", "stats", "commit"):
            out[f"cluster.{step}_s"] = median(
                [(c["cluster"].timings or {}).get(step, 0.0) for c in cyc])
        return out
