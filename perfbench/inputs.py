"""Seeded benchmark inputs, made by ``dedup.generate`` and cached on disk.

Each workload's inputs are a pure function of the seed and the sizes below.
They are written as parquet under ``.perfbench_cache/<key>/`` in the
checkout, where the key hashes the generator source, this file, the
workload, the seed and the sizes, so a change to any of them regenerates.
Generation happens before the benchmark starts its clock.

Regenerate one workload's inputs (removing any cached copy first):

    python3 perfbench/inputs.py --workload append_stream --seed 3
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")

SIZES = {
    # make_corpus plants 1-4 variants on 30% of its base conversations
    # (exact copies, edited near-dups, containment variants); whole planted
    # clusters are kept, in a seeded random order, up to a fixed turn budget
    # so that every seed gives the same amount of work
    "batch_pipeline": {"conversations": 200, "turns": 1000},
    # the first bootstrap_turns turns are committed in set-up; the rest
    # arrive in micro-batches of batch_turns turns each
    "append_stream": {"conversations": 80, "bootstrap_turns": 240, "batch_turns": 80},
    "title_match": {"truth": 400, "queries": 200},
}

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def _key(workload: str, seed: int) -> str:
    import dedup.generate

    h = hashlib.sha256()
    for path in (dedup.generate.__file__, os.path.abspath(__file__)):
        with open(path, "rb") as fh:
            h.update(fh.read())
    h.update(json.dumps([workload, seed, SIZES[workload]], sort_keys=True).encode())
    return f"{workload}-{seed}-{h.hexdigest()[:12]}"


def _write_transcripts(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(
        df[TRANSCRIPT_SCHEMA.names], schema=TRANSCRIPT_SCHEMA, preserve_index=False
    )
    pq.write_table(table, path)


def _kinds(corpus) -> pd.DataFrame:
    """Truth table with each conversation's planted kind: ``base``, or for a
    variant ``exact`` (same turns as its base), ``containment`` (one extra
    turn) or ``near`` (same turn count, edited text)."""
    t = corpus.transcripts
    texts = t.sort_values(["conv_id", "turn_idx"]).groupby("conv_id")["text"].agg(tuple)
    truth = corpus.truth_clusters.copy()
    base = truth.groupby("cluster_id")["conv_id"].min()
    kinds = []
    for conv, cluster in zip(truth.conv_id, truth.cluster_id):
        b = base[cluster]
        if conv == b:
            kinds.append("base")
        elif texts[conv] == texts[b]:
            kinds.append("exact")
        elif len(texts[conv]) != len(texts[b]):
            kinds.append("containment")
        else:
            kinds.append("near")
    truth["kind"] = kinds
    return truth


def _gen_batch(seed: int, out: str) -> dict:
    from dedup.generate import make_corpus

    size = SIZES["batch_pipeline"]
    c = make_corpus(n_conversations=size["conversations"], seed=seed)
    truth = _kinds(c)
    turns = c.transcripts.groupby("conv_id").size()
    clusters = list(truth.groupby("cluster_id", sort=True).conv_id.agg(list))
    random.Random(seed).shuffle(clusters)
    keep, total = set(), 0
    for convs in clusters:
        n = int(turns[convs].sum())
        if total + n > size["turns"]:
            break
        keep.update(convs)
        total += n
    t = c.transcripts[c.transcripts.conv_id.isin(keep)]
    truth = truth[truth.conv_id.isin(keep)]
    _write_transcripts(t, os.path.join(out, "transcripts.parquet"))
    truth.to_parquet(os.path.join(out, "truth.parquet"), index=False)
    return {
        "turns": len(t),
        "docs": len(keep),
        "kinds": truth.kind.value_counts().to_dict(),
    }


def _gen_stream(seed: int, out: str) -> dict:
    from dedup.generate import make_corpus

    size = SIZES["append_stream"]
    c = make_corpus(n_conversations=size["conversations"], seed=seed)
    convs = sorted(c.transcripts.conv_id.unique())
    random.Random(seed).shuffle(convs)  # planted variants land on both sides
    # one row stream, conversation by conversation in the shuffled order,
    # cut into the bootstrap and then batches of exactly batch_turns turns:
    # a conversation that straddles a cut has its later turns arrive one
    # batch later (the re-seen / supersede path), and every appended batch
    # is the same amount of work whatever the seed
    order = {conv: i for i, conv in enumerate(convs)}
    t = (
        c.transcripts.assign(order=c.transcripts.conv_id.map(order))
        .sort_values(["order", "turn_idx"])
        .drop(columns="order")
        .reset_index(drop=True)
    )
    boot = size["bootstrap_turns"]
    row = pd.RangeIndex(len(t)).to_numpy()
    part = (row >= boot) * (1 + (row - boot) // size["batch_turns"])
    t["part"] = part
    first = t.groupby("conv_id").part.min()
    last = t.groupby("conv_id").part.max()
    n_full = 1 + (len(t) - boot) // size["batch_turns"]  # drop a short tail
    names = []
    for pos in range(n_full):
        name = "bootstrap.parquet" if pos == 0 else f"batch_{pos:03d}.parquet"
        _write_transcripts(t[t.part == pos], os.path.join(out, name))
        names.append(name)
    truth = _kinds(c)
    truth["last_pos"] = truth.conv_id.map(last)
    truth.to_parquet(os.path.join(out, "truth.parquet"), index=False)
    turns = [int((t.part == pos).sum()) for pos in range(n_full)]
    split = int((first != last).sum())
    return {"files": names, "turns": turns, "docs": len(convs), "split_convs": split}


def _gen_title(seed: int, out: str) -> dict:
    from dedup.generate import make_title_fixture

    size = SIZES["title_match"]
    truth, queries = make_title_fixture(
        n_truth=size["truth"], n_queries=size["queries"], seed=seed
    )
    truth.to_parquet(os.path.join(out, "truth.parquet"), index=False)
    queries.to_parquet(os.path.join(out, "queries.parquet"), index=False)
    return {
        "truth": len(truth),
        "queries": len(queries),
        "findable": int((queries.expected_title_id != -1).sum()),
    }


GENERATORS = {
    "batch_pipeline": _gen_batch,
    "append_stream": _gen_stream,
    "title_match": _gen_title,
}


def ensure_inputs(workload: str, seed: int, force: bool = False) -> tuple[str, dict]:
    """Return (directory, meta) of the cached inputs, generating them when
    absent (or when ``force``). The directory appears atomically."""
    os.makedirs(CACHE, exist_ok=True)
    final = os.path.join(CACHE, _key(workload, seed))
    if force and os.path.isdir(final):
        shutil.rmtree(final)
    if not os.path.isdir(final):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = GENERATORS[workload](seed, tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta, fh)
        try:
            os.rename(tmp, final)
        except OSError:  # another process committed the same key first
            shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(final, "meta.json")) as fh:
        return final, json.load(fh)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=sorted(GENERATORS), required=True)
    p.add_argument("--seed", type=int, required=True)
    args = p.parse_args(argv)
    path, meta = ensure_inputs(args.workload, args.seed, force=True)
    print(json.dumps({"path": os.path.relpath(path, ROOT), **meta}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
