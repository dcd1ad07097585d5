"""The batch extraction job: file-group checkpointing, lineage manifests.

North-rule requirements covered here: checkpoint-resumability with
per-partition lineage + metrics counters (turns processed, corrections,
bytes extracted), idempotent re-runs, skew-aware map stage.

Checkpoint unit = a deterministic group of input files. The sorted input
file list is chunked into N groups; each group is read, extracted, and
written to ``output/group=K/`` with an ``overwrite`` of exactly that
directory, then a manifest ``_manifests/group-K.json`` records the file
lineage and counters. A killed job resumes by skipping groups whose
manifest exists — each input byte is read exactly once across all attempts,
and a re-run of a completed group is a no-op overwrite (idempotent).

This is the plain-Parquet rendition of what Iceberg gives via snapshot
atomicity (no Iceberg runtime jar exists in this sandbox — verified; the
deployment swap is config-only since the write is still
``write.mode("overwrite")`` per partition directory). At cluster scale the
same protocol runs with group count ~ O(total-size / 1 TB) so a restart
loses at most one group of work.
"""
from __future__ import annotations

import hashlib
import json
import pathlib
import time

from pyspark.errors import AnalysisException
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from ocr_spark.operators.extraction import extract_turns, salted_repartition
from ocr_spark.session import read_parquet

INPUT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


class ExtractionJob:
    def __init__(
        self,
        spark: SparkSession,
        input_path: str,
        output_path: str,
        groups: int = 8,
        use_dictionary: bool = True,
        use_spelling: bool = True,
        partitions_per_group: int | None = None,
        salt_buckets: int = 16,
        columns: list[str] | None = None,
        learned_words_path: str | None = None,
        sink: str = "parquet",
    ):
        self.spark = spark
        self.input_path = input_path
        self.output = pathlib.Path(output_path)
        self.manifest_dir = self.output / "_manifests"
        self.groups = groups
        self.use_dictionary = use_dictionary
        self.use_spelling = use_spelling
        self.salt_buckets = salt_buckets
        self.columns = columns or INPUT_COLUMNS
        self.sink = sink  # 'parquet' (production) | 'noop' (bench: measure
        # the extraction stage without sink encode)
        # epoch-snapshot kamus (SURVEY.md §7.4): approved learned words are
        # frozen for the whole job; this epoch's accruals affect the next
        self.extra_kamus = self._load_learned(learned_words_path)
        if partitions_per_group is None:
            partitions_per_group = int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.partitions_per_group = partitions_per_group

    def _load_learned(self, path: str | None) -> frozenset | None:
        if not path:
            return None
        # a versioned learned table (streaming accrual) reads its live
        # snapshot; a plain parquet dir reads directly. Both resolve through
        # the versioned-table root's local-filesystem contract, which
        # rejects URI-schemed paths (the pointer probe would miss them and
        # read every snapshot at once) and strips file:// prefixes.
        from ocr_spark.streaming.extract_stream import (
            live_snapshot,
            require_local_path,
        )

        what = "learned words path"
        path = str(live_snapshot(path, what) or require_local_path(path, what))
        try:
            rows = (
                read_parquet(self.spark, path)
                .filter("is_approved")
                .select("word")
                .collect()
            )
        except AnalysisException:
            return None  # first epoch: the table does not exist yet
        # any OTHER failure must raise: running the epoch without the
        # learned kamus would silently change outputs
        return frozenset(r["word"] for r in rows) or None

    def _flags(self) -> dict:
        """The configuration fingerprint a group's output depends on. A
        resumed group only counts as done when these match — otherwise two
        epochs/configurations would silently mix in one output dataset.
        The learned kamus is fingerprinted by CONTENT hash (sorted words),
        not size: two epochs can have equal counts and different words."""
        kamus_hash = hashlib.sha256(
            "\n".join(sorted(self.extra_kamus or ())).encode()
        ).hexdigest()[:16]
        return {
            "use_dictionary": self.use_dictionary,
            "use_spelling": self.use_spelling,
            "learned_kamus_words": len(self.extra_kamus or ()),
            "learned_kamus_hash": kamus_hash,
        }

    # -- lineage ------------------------------------------------------------

    def input_file_groups(self) -> list[list[str]]:
        """Deterministic chunking of the sorted input file list."""
        root = pathlib.Path(self.input_path)
        files = sorted(str(p) for p in root.glob("**/*.parquet"))
        if not files:
            raise FileNotFoundError(f"no parquet files under {self.input_path}")
        n = min(self.groups, len(files))
        per = (len(files) + n - 1) // n
        return [files[i * per : (i + 1) * per] for i in range(n) if files[i * per : (i + 1) * per]]

    def _manifest_path(self, k: int) -> pathlib.Path:
        return self.manifest_dir / f"group-{k:04d}.json"

    def completed_groups(self, file_groups: list[list[str]] | None = None) -> set[int]:
        """Groups safe to skip on resume. A manifest only counts when its
        recorded input_files EXACTLY match the group's current file list —
        if files arrived/left or --groups changed, the chunking shifted and
        skipping would silently drop data (the each-byte-exactly-once
        contract) — AND its recorded flags (incl. the learned-kamus content
        hash) match the current job config — otherwise a resume with
        different --no-dictionary/--no-spelling/--learned-words would mix
        two configurations in one output. Such groups re-run instead."""
        flags = self._flags()
        done = set()
        for p in self.manifest_dir.glob("group-*.json"):
            try:
                m = json.loads(p.read_text())
                if m.get("status") != "complete":
                    continue
                k = m["group"]
                if file_groups is not None and (
                    k >= len(file_groups)
                    or m.get("input_files") != file_groups[k]
                ):
                    continue  # lineage mismatch -> re-extract this group
                if m.get("flags") != flags:
                    continue  # config mismatch -> re-extract this group
                done.add(k)
            except (ValueError, KeyError):
                continue  # partial/corrupt manifest -> group reruns
        return done

    # -- execution ----------------------------------------------------------

    def run_group(self, k: int, files: list[str]) -> dict:
        t0 = time.monotonic()
        df = read_parquet(self.spark, *files).select(*self.columns)
        if self.salt_buckets > 0:
            df = salted_repartition(
                df, self.partitions_per_group, self.salt_buckets
            )
        out = extract_turns(
            df,
            use_dictionary=self.use_dictionary,
            use_spelling=self.use_spelling,
            extra_kamus=self.extra_kamus,
        )
        obs = Observation(f"group-{k}")
        out = out.observe(
            obs,
            F.count(F.lit(1)).alias("turns"),
            F.sum("dictionary_corrections").alias("corrections"),
            F.sum("spelling_changes").alias("spelling_changes"),
            F.sum(F.octet_length("normalized_text")).alias("bytes_extracted"),
            F.sum(F.size("spans")).alias("spans"),
        )
        if self.sink == "noop":
            out.write.format("noop").mode("overwrite").save()
        else:
            out.write.mode("overwrite").parquet(str(self.output / f"group={k}"))
        m = obs.get
        manifest = {
            "group": k,
            "status": "complete",
            "input_files": files,
            "turns": m["turns"],
            "corrections": int(m["corrections"] or 0),
            "spelling_changes": int(m["spelling_changes"] or 0),
            "bytes_extracted": int(m["bytes_extracted"] or 0),
            "spans": int(m["spans"] or 0),
            "wall_ms": int((time.monotonic() - t0) * 1000),
            "flags": self._flags(),
        }
        self.manifest_dir.mkdir(parents=True, exist_ok=True)
        tmp = self._manifest_path(k).with_suffix(".tmp")
        tmp.write_text(json.dumps(manifest, indent=1))
        tmp.rename(self._manifest_path(k))  # atomic commit of the checkpoint
        return manifest

    def run(self, resume: bool = True) -> dict:
        """Run all groups; with ``resume`` skip already-committed ones.
        Returns the aggregated job summary (also written to
        ``_manifests/_SUMMARY.json``)."""
        file_groups = self.input_file_groups()
        done = self.completed_groups(file_groups) if resume else set()
        manifests = []
        for k, files in enumerate(file_groups):
            if k in done:
                manifests.append(json.loads(self._manifest_path(k).read_text()))
                continue
            manifests.append(self.run_group(k, files))
        summary = {
            "groups": len(file_groups),
            "resumed_groups": sorted(done),
            "turns": sum(m["turns"] for m in manifests),
            "corrections": sum(m["corrections"] for m in manifests),
            "spelling_changes": sum(m["spelling_changes"] for m in manifests),
            "bytes_extracted": sum(m["bytes_extracted"] for m in manifests),
            "spans": sum(m["spans"] for m in manifests),
            "wall_ms": sum(m["wall_ms"] for m in manifests),
        }
        (self.manifest_dir / "_SUMMARY.json").write_text(json.dumps(summary, indent=1))
        return summary
