"""Correctness checks made apart from the program.

Everything here is plain Python over the committed tables (read with
pyarrow, never through Spark) and the generator's planted truth: its own
union-find, its own char-3-gram Jaccard and containment, its own
Levenshtein ratio (a bit-parallel LCS, not the program's DP) and its own
common-substring test (substring search, not the program's suffix
automaton). Each check returns
``(ok, details)``; a failed check marks its unit as a failed operation.
"""

from __future__ import annotations

import glob
import itertools
import os

import pandas as pd
import pyarrow.parquet as pq

# the floors come from how the generator plants the truth, not from any
# output of the program: planted near-dups edit ~half the turns with 1-2
# edit ops (char-3-gram Jaccard well above 0.8), and unrelated conversations
# are word salad over a 5,000-word vocabulary (no accidental near-dups)
PAIR_RECALL_FLOOR = 0.99
PAIR_PRECISION_FLOOR = 0.99
# a findable title query is one edit op away from its truth title
TITLE_CORRECT_FLOOR = 0.95
TITLE_WRONG_CEILING = 0.01

JACCARD_THRESHOLD = 0.8
LEV_THRESHOLD = 94
CONTAINMENT_THRESHOLD = 0.9  # grams of the shorter doc found in the longer
CONTAINMENT_LCS_RATIO = 0.8  # longest common substring / shorter length


def read_table(path: str, columns: list[str] | None = None) -> pd.DataFrame:
    return pq.read_table(path, columns=columns).to_pandas()


def read_batches(path: str, columns: list[str]) -> pd.DataFrame:
    """Read an append-only ``batch=<id>`` directory table, adding ``batch``."""
    frames = []
    for d in glob.glob(os.path.join(path, "batch=*")):
        df = read_table(d, columns)
        df["batch"] = int(d.rsplit("=", 1)[1])
        frames.append(df)
    if not frames:
        return pd.DataFrame(columns=[*columns, "batch"])
    return pd.concat(frames, ignore_index=True)


def lcs_len(a: str, b: str) -> int:
    """Longest common subsequence length, bit-parallel over Python ints
    (Hyyrö 2004): one word-parallel step per character of ``a``."""
    if not a or not b:
        return 0
    masks: dict[str, int] = {}
    for i, ch in enumerate(b):
        masks[ch] = masks.get(ch, 0) | (1 << i)
    full = (1 << len(b)) - 1
    v = full
    for ch in a:
        u = v & masks.get(ch, 0)
        v = ((v + u) | (v - u)) & full
    return len(b) - bin(v).count("1")


def lev_ratio(a: str, b: str) -> int:
    """Cost-2 (indel) Levenshtein ratio, rounded half to even like the
    reference's python-Levenshtein ratio."""
    total = len(a) + len(b)
    if total == 0:
        return 100
    dist = total - 2 * lcs_len(a, b)
    return round(100.0 * (total - dist) / total)


def token_sort(s: str) -> str:
    return " ".join(sorted(s.split()))


def gram_set(s: str, k: int = 3) -> set[str]:
    return {s[i : i + k] for i in range(len(s) - k + 1)}


def jaccard(a: str, b: str) -> float:
    ga, gb = gram_set(a), gram_set(b)
    union = len(ga | gb)
    return len(ga & gb) / union if union else 1.0


def containment(a: str, b: str) -> float:
    """Share of the smaller char-3-gram set found in the other."""
    ga, gb = gram_set(a), gram_set(b)
    small = min(len(ga), len(gb))
    return len(ga & gb) / small if small else 0.0


def has_common_substring(a: str, b: str, ratio: float) -> bool:
    """Whether ``a`` and ``b`` share a substring of at least ``ratio`` times
    the shorter one's length: every window of that length of the shorter
    text is looked up in the longer one."""
    short, long_ = sorted((a, b), key=len)
    m = len(short)
    if m == 0:
        return False
    need = next(n for n in range(max(0, int(ratio * m) - 1), m + 1) if n / m >= ratio)
    return any(short[i : i + need] in long_ for i in range(m - need + 1))


class UnionFind:
    def __init__(self) -> None:
        self.parent: dict = {}

    def find(self, x):
        self.parent.setdefault(x, x)
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a, b) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def _pairs(groups) -> set[tuple]:
    out = set()
    for members in groups:
        out.update(itertools.combinations(sorted(members), 2))
    return out


def _edges_ok(
    verified: pd.DataFrame, contain: pd.DataFrame, text: dict[str, str]
) -> tuple[dict[str, int], int]:
    """Recompute every committed edge against its tier's threshold; return
    (edges checked per tier, edges that fail). A containment edge without
    an ``lcs_ratio`` was accepted on gram containment, one with it on the
    longest common substring."""
    checked: dict[str, int] = dict.fromkeys(
        ("jaccard", "levenshtein", "containment_gram", "containment_lcs"), 0
    )
    bad = 0
    for a, b, tier in zip(verified.id_a, verified.id_b, verified.tier):
        ta, tb = text[a], text[b]
        if tier == "jaccard":
            ok = jaccard(ta, tb) >= JACCARD_THRESHOLD - 1e-12
        elif tier == "levenshtein":
            ok = max(
                lev_ratio(ta, tb), lev_ratio(token_sort(ta), token_sort(tb))
            ) > LEV_THRESHOLD
        else:
            continue
        checked[tier] += 1
        bad += not ok
    for a, b, lcs in zip(contain.id_a, contain.id_b, contain.lcs_ratio):
        ta, tb = text[a], text[b]
        if pd.isna(lcs):
            tier, ok = "containment_gram", containment(ta, tb) >= CONTAINMENT_THRESHOLD - 1e-12
        else:
            tier, ok = "containment_lcs", has_common_substring(ta, tb, CONTAINMENT_LCS_RATIO)
        checked[tier] += 1
        bad += not ok
    return checked, bad


def check_batch(wh: str, inputs: str) -> tuple[bool, dict]:
    truth = read_table(os.path.join(inputs, "truth.parquet"))
    clusters = read_table(os.path.join(wh, "clusters"))
    verified = read_table(os.path.join(wh, "verified_pairs"))
    contain = read_table(os.path.join(wh, "containment_pairs"), ["id_a", "id_b", "lcs_ratio"])
    groups = read_table(os.path.join(wh, "exact_groups"), ["member_ids", "representative"])
    prepared = read_table(os.path.join(wh, "prepared"), ["doc_id", "norm_text"])

    convs = set(truth.conv_id)
    one_cluster = clusters.conv_id.is_unique and set(clusters.conv_id) == convs

    uf = UnionFind()
    for conv in convs:
        uf.find(conv)
    for a, b in itertools.chain(
        zip(verified.id_a, verified.id_b), zip(contain.id_a, contain.id_b)
    ):
        uf.union(a, b)
    for members, rep in zip(groups.member_ids, groups.representative):
        for m in members:
            uf.union(m, rep)
    got = dict(zip(clusters.conv_id, clusters.cluster_id))
    cid_bad = sum(got.get(c) != uf.find(c) for c in convs)

    planted = _pairs(truth.groupby("cluster_id").conv_id.agg(list))
    found = _pairs(clusters.groupby("cluster_id").conv_id.agg(list))
    hit = len(planted & found)
    recall = hit / len(planted) if planted else 1.0
    precision = hit / len(found) if found else 1.0

    text = dict(zip(prepared.doc_id, prepared.norm_text))
    checked, bad_edges = _edges_ok(verified, contain, text)
    ok = (
        one_cluster
        and cid_bad == 0
        and recall >= PAIR_RECALL_FLOOR
        and precision >= PAIR_PRECISION_FLOOR
        and bad_edges == 0
    )
    return ok, {
        "one_cluster_per_conv": bool(one_cluster),
        "cluster_id_not_component_min": cid_bad,
        "pair_recall": round(recall, 4),
        "pair_precision": round(precision, 4),
        "planted_pairs": len(planted),
        "edges_rechecked": checked,
        "edges_failing_threshold": bad_edges,
    }


def check_stream(wh: str, inputs: str, pos: int) -> tuple[bool, dict]:
    """State after the micro-batch of input position ``pos`` (the bootstrap
    is position 0 and streaming batch 0)."""
    truth = read_table(os.path.join(inputs, "truth.parquet"))
    cluster = dict(zip(truth.conv_id, truth.cluster_id))
    prepared = read_batches(os.path.join(wh, "corpus_prepared"), ["doc_id"])
    edges = read_batches(os.path.join(wh, "stream_edges"), ["id_a", "id_b"])

    last_b = prepared.groupby("doc_id").batch.max()
    current = edges[
        (edges.batch >= edges.id_a.map(last_b)) & (edges.batch >= edges.id_b.map(last_b))
    ]
    cross = int(sum(cluster[a] != cluster[b] for a, b in zip(current.id_a, current.id_b)))

    uf = UnionFind()
    for a, b in zip(current.id_a, current.id_b):
        uf.union(a, b)
    # only conversations whose every turn has arrived are held to recall
    done = truth[truth.last_pos <= pos]
    plain = done[done.kind != "containment"]
    planted = _pairs(plain.groupby("cluster_id").conv_id.agg(list))
    hit = sum(uf.find(a) == uf.find(b) for a, b in planted)
    recall = hit / len(planted) if planted else 1.0
    contain = [
        (a, b)
        for a, b in _pairs(done.groupby("cluster_id").conv_id.agg(list))
        if "containment" in (done.kind[done.conv_id == a].iat[0], done.kind[done.conv_id == b].iat[0])
    ]
    contain_hit = sum(uf.find(a) == uf.find(b) for a, b in contain)
    ok = cross == 0 and recall >= PAIR_RECALL_FLOOR
    return ok, {
        "current_edges": len(current),
        "edges_across_planted_clusters": cross,
        "complete_convs": len(done),
        "planted_pairs": len(planted),
        "pair_recall": round(recall, 4),
        "containment_pairs_recovered": f"{contain_hit}/{len(contain)}",
    }


def check_titles(out_dir: str, inputs: str) -> tuple[bool, dict]:
    queries = read_table(os.path.join(inputs, "queries.parquet"))
    (part,) = glob.glob(os.path.join(out_dir, "part-*.csv"))
    preds = pd.read_csv(part, sep="|")
    every_once = preds.query_id.is_unique and set(preds.query_id) == set(queries.query_id)
    m = queries.merge(preds, on="query_id", how="left")
    findable = int((m.expected_title_id != -1).sum())
    correct = int(((m.title_id == m.expected_title_id) & (m.expected_title_id != -1)).sum())
    wrong = int(((m.title_id != -1) & (m.title_id != m.expected_title_id)).sum())
    ok = (
        every_once
        and correct >= TITLE_CORRECT_FLOOR * findable
        and wrong <= TITLE_WRONG_CEILING * len(queries)
    )
    return ok, {
        "every_query_once": bool(every_once),
        "findable": findable,
        "correct": correct,
        "wrong": wrong,
        "matched": int((m.title_id != -1).sum()),
    }
