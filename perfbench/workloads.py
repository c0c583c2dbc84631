"""The three workloads. Each is a closed loop with one caller: a unit
starts only after the previous one has committed.

A workload object knows how to load its inputs into a fresh Spark session
(part of set-up), run one unit (timed by the caller), check the unit's
output apart from the program, and report the bytes the unit left in
storage.
"""

from __future__ import annotations

import os
import shutil

import checks
from host import dir_bytes

# batch_pipeline and append_stream size the shuffle to the 4-core host the
# repo's baseline was measured on (shuffle_partitions 8); every other knob,
# lev_partitions included, stays at DEFAULT_CONFIG. title_match runs
# DEFAULT_CONFIG unchanged, which is what the match-titles CLI runs.
PIPELINE_PARTITIONS = 8


def pipeline_config():
    from dedup.config import DEFAULT_CONFIG

    return DEFAULT_CONFIG.with_(
        shuffle_partitions=PIPELINE_PARTITIONS, conv_partitions=PIPELINE_PARTITIONS
    )


class Workload:
    def bootstrap(self, spark) -> None:
        """Commit state the units build on (part of set-up)."""

    def after_unit(self) -> None:
        """Release what a unit leaves cached (outside the unit's time)."""


class BatchPipeline(Workload):
    """``run_pipeline`` on a fresh warehouse per unit over one corpus."""

    name = "batch_pipeline"
    items = "turns"

    def __init__(self, inputs: str, meta: dict, work: str):
        self.inputs, self.meta, self.work = inputs, meta, work
        self.config = pipeline_config()
        self.wh = None

    def load(self, spark) -> None:
        self.transcripts = spark.read.parquet(os.path.join(self.inputs, "transcripts.parquet"))
        self.n_turns = self.transcripts.count()

    def unit(self, spark, i: int) -> int:
        from dedup.pipeline import run_pipeline

        if self.wh:
            shutil.rmtree(self.wh, ignore_errors=True)
        self.wh = os.path.join(self.work, f"wh{i}")
        run_pipeline(spark, self.transcripts, self.wh, self.config, run_id=f"u{i}")
        return self.n_turns

    def check(self) -> tuple[bool, dict]:
        return checks.check_batch(self.wh, self.inputs)

    def stored_bytes(self) -> int:
        return dir_bytes(self.wh)


class AppendStream(Workload):
    """``start_streaming_dedup`` with ``availableNow`` over a source
    directory that gains one transcript file per unit; each unit is one
    trigger that processes exactly that file as one micro-batch."""

    name = "append_stream"
    items = "turns"

    def __init__(self, inputs: str, meta: dict, work: str):
        self.inputs, self.meta, self.work = inputs, meta, work
        self.config = pipeline_config()
        self.src = os.path.join(work, "stream_src")
        self.wh = os.path.join(work, "stream_wh")
        self.ckpt = os.path.join(work, "stream_ckpt")
        for d in (self.src, self.wh, self.ckpt):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.src)
        self.pos = 0  # input position of the last committed micro-batch

    def load(self, spark) -> None:
        from dedup.streaming import read_transcript_stream

        self.stream = read_transcript_stream(spark, self.src, max_files_per_trigger=1)

    def _trigger(self, spark, pos: int) -> int:
        from dedup.streaming import start_streaming_dedup

        name = self.meta["files"][pos]
        tmp = os.path.join(self.src, f".{name}")  # hidden until renamed
        shutil.copyfile(os.path.join(self.inputs, name), tmp)
        os.rename(tmp, os.path.join(self.src, name))
        q = start_streaming_dedup(spark, self.stream, self.wh, self.config, self.ckpt)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"micro-batch {pos} failed: {q.exception()}")
        self.pos = pos
        return self.meta["turns"][pos]

    def bootstrap(self, spark) -> None:
        self._trigger(spark, 0)

    def unit(self, spark, i: int) -> int:
        if self.pos + 1 >= len(self.meta["files"]):
            raise RuntimeError("append_stream ran out of input batches; raise SIZES")
        return self._trigger(spark, self.pos + 1)

    def check(self) -> tuple[bool, dict]:
        return checks.check_stream(self.wh, self.inputs, self.pos)

    def stored_bytes(self) -> int:
        return dir_bytes(self.wh)


class TitleMatch(Workload):
    """The match-titles CLI path: ``match_titles`` with DEFAULT_CONFIG, then
    ``write_predictions_csv``; one unit is one full cascade pass."""

    name = "title_match"
    items = "queries"

    def __init__(self, inputs: str, meta: dict, work: str):
        from dedup.config import DEFAULT_CONFIG

        self.inputs, self.meta, self.work = inputs, meta, work
        self.config = DEFAULT_CONFIG
        self.out = None

    def load(self, spark) -> None:
        self.truth = spark.read.parquet(os.path.join(self.inputs, "truth.parquet")).select(
            "title_id", "title"
        )
        self.queries = spark.read.parquet(
            os.path.join(self.inputs, "queries.parquet")
        ).select("query_id", "title")
        self.n_queries = self.queries.count()
        self.truth.count()

    def unit(self, spark, i: int) -> int:
        from dedup.io import write_predictions_csv
        from dedup.operators.match import match_titles

        if self.out:
            shutil.rmtree(self.out, ignore_errors=True)
        self.out = os.path.join(self.work, f"preds{i}")
        preds = match_titles(self.queries, self.truth, self.config)
        write_predictions_csv(preds, self.out)
        return self.n_queries

    def after_unit(self) -> None:
        from dedup.tracking import drain_tracked

        drain_tracked()  # the cascade's cached intermediates

    def check(self) -> tuple[bool, dict]:
        return checks.check_titles(self.out, self.inputs)

    def stored_bytes(self) -> int:
        return dir_bytes(self.out)


WORKLOADS = {w.name: w for w in (BatchPipeline, AppendStream, TitleMatch)}

