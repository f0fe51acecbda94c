"""Seeded workload builders.

Each builder returns a list of transcript rows ``(conv_id, turn_idx, role,
text, tool, ts)``; ``write_parquet`` stores them in the repository's input
schema. The program under test only ever sees that parquet file.

  chat_turns   short chat/agent turns: 88% plain text (no ``<``), the rest
               templated article HTML, with synth's conversation-length skew
               (1% "mega" conversations of up to 512 turns).
  corpus_prep  the committed sf0.1 production mix, resampled by conversation
               to exact counts of plain turns and templated HTML turns, with
               every real reference page exactly once.

Turn, conversation and class counts are exact rather than drawn: what they
set (the byte mix, the output file count, the per-document percentiles)
then stays the same from seed to seed.

No builder needs the reference corpus: the real pages are read out of the
committed ``data/synth/sf0.1`` parquet, and the synthetic turns come from
``snacktory_spark.data.synth`` with no golden fixtures.
"""

from __future__ import annotations

import datetime as dt
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROLES = ("user", "assistant", "tool")

CHAT_TURNS = 1000
CHAT_CONVS = 100
CHAT_HTML = 120          # templated HTML turns; the other 88% are plain text

# per 1,000 turns: the sf0.1 shares of plain (44.5%) and templated HTML
# turns, and each of the 20 real reference pages exactly once (2%, where
# sf0.1 holds ~8 copies of each at 0.79%). Exact counts and one fixed page
# set keep the byte mix and the per-document percentiles the same on every
# seed; the seed picks the conversations, and so the length skew.
PREP_CLASSES = {"plain": 445, "page": 20, "html": 535}
PREP_CONVS = 96      # sf0.1 averages 10.4 turns per conversation

PAGE_BYTES = 20_000


def _chat_lengths(rng: random.Random) -> list[int]:
    """CHAT_CONVS conversation lengths summing to CHAT_TURNS, drawn in order
    from synth's skewed distribution; a draw is skipped when the rest could
    no longer average 1 to 12 turns, and the last length is the remainder.
    Fixed turn and conversation counts keep the output file count steady."""
    from snacktory_spark.data import synth

    out: list[int] = []
    left = CHAT_TURNS
    while len(out) < CHAT_CONVS - 1:
        (n,) = synth._conv_lengths(rng, 1)
        rest = CHAT_CONVS - len(out) - 1
        if rest <= left - n <= 12 * rest:
            out.append(n)
            left -= n
    return out + [left]


def chat_turns(seed: int) -> list[tuple]:
    from snacktory_spark.data import synth

    rng = random.Random(seed)
    lengths = _chat_lengths(rng)
    html = set(rng.sample(range(CHAT_TURNS), CHAT_HTML))
    rows: list[tuple] = []
    for ci, length in enumerate(lengths):
        conv_id = f"chat-{seed}-{ci:06d}"
        for ti in range(length):
            role = ROLES[ti % 3]
            if len(rows) in html:
                text, _ = synth.make_article_html(rng, len(rows))
            else:
                text = synth._plain_text(rng)
            rows.append((conv_id, ti, role, text,
                         "browser" if role == "tool" else "",
                         synth.EPOCH + dt.timedelta(seconds=17 * len(rows))))
    return rows


def corpus_prep(seed: int, root: Path) -> list[tuple]:
    """PREP_CONVS whole conversations of the sf0.1 mix with exactly the
    PREP_CLASSES turn counts and every real page once."""
    sf = root / "data" / "synth" / "sf0.1"
    table = pq.read_table(sf / "transcripts.parquet")
    exp = pq.read_table(sf / "expected.parquet",
                        columns=["conv_id", "turn_idx", "fixture"])
    exp = exp.filter(pc.invert(pc.starts_with(exp["fixture"], "template-")))
    page_keys = set(zip(exp["conv_id"].to_pylist(), exp["turn_idx"].to_pylist()))

    convs: dict[str, list[tuple]] = {}
    for row in zip(*(table[c].to_pylist() for c in
                     ("conv_id", "turn_idx", "role", "text", "tool", "ts"))):
        convs.setdefault(row[0], []).append(row)
    need: dict[str, dict[str, int]] = {}
    pages: dict[str, list[str]] = {}
    for c, rows in convs.items():
        need[c] = dict.fromkeys(PREP_CLASSES, 0)
        pages[c] = []
        for r in rows:
            if (r[0], r[1]) in page_keys:
                need[c]["page"] += 1
                pages[c].append(r[3])
            else:
                need[c]["html" if "<" in r[3] else "plain"] += 1

    # a greedy pass can strand the last conversations with counts no
    # conversation has; the next attempt of the same seed reorders
    for attempt in range(100):
        rng = random.Random(f"{seed}/{attempt}")
        chosen = _pick(rng, need, pages)
        if chosen:
            return _renamed(rng, seed, [convs[c] for c in sorted(chosen)])
    raise RuntimeError(f"no corpus_prep resample for seed {seed}")


def _renamed(rng: random.Random, seed: int, convs: list[list[tuple]]) -> list[tuple]:
    """The conversations under new ids in seeded order, the three smallest
    ids going to conversations whose turn 0 is HTML. ``seed_bench_grams``
    (and the oracle SQL) take the benchmark grams from turn 0 of the three
    smallest conv ids; a plain turn 0 extracts to empty text, and with
    three of them the gram table would be empty, decontamination would not
    run, and those seeds would take a cheaper path through the chain."""
    convs = [sorted(c, key=lambda r: r[1]) for c in convs]
    rng.shuffle(convs)
    first = [i for i, c in enumerate(convs) if "<" in c[0][3]][:3]
    convs = [convs[i] for i in first] + [c for i, c in enumerate(convs)
                                         if i not in first]
    return [(f"prep-{seed}-{i:05d}", *r[1:])
            for i, c in enumerate(convs) for r in c]


def _pick(rng: random.Random, need: dict, pages: dict) -> list[str] | None:
    """Conversations in seeded order, page-carrying ones first, each taken if
    it keeps every class within its count, leaves the other conversations
    1 to 12 turns each on average and repeats no real page."""
    order = sorted(need)
    rng.shuffle(order)
    order.sort(key=lambda c: not pages[c])
    left, slots = dict(PREP_CLASSES), PREP_CONVS
    seen: set[str] = set()
    chosen: list[str] = []
    for c in order:
        rest = sum(left.values()) - sum(need[c].values())
        if (all(need[c][k] <= left[k] for k in left)
                and slots - 1 <= rest <= 12 * (slots - 1)
                and len(set(pages[c])) == len(pages[c])
                and seen.isdisjoint(pages[c])):
            chosen.append(c)
            seen.update(pages[c])
            slots -= 1
            for k in left:
                left[k] -= need[c][k]
    return chosen if not any(left.values()) and not slots else None


def build(name: str, seed: int, root: Path) -> list[tuple]:
    if name == "chat_turns":
        return chat_turns(seed)
    if name == "corpus_prep":
        return corpus_prep(seed, root)
    raise ValueError(f"unknown workload {name!r}")


def write_parquet(rows: list[tuple], path: Path) -> None:
    cols = list(zip(*rows))
    table = pa.table({
        "conv_id": pa.array(cols[0], pa.string()),
        "turn_idx": pa.array(cols[1], pa.int32()),
        "role": pa.array(cols[2], pa.string()),
        "text": pa.array(cols[3], pa.string()),
        "tool": pa.array(cols[4], pa.string()),
        "ts": pa.array(cols[5], pa.timestamp("us", tz="UTC")),
    })
    # same row-group size as the committed synth data, so the scan splits alike
    pq.write_table(table, path, row_group_size=4096)


def properties(rows: list[tuple]) -> dict:
    """The measured input properties later claims must cite."""
    sizes = [len(r[3].encode("utf-8")) for r in rows]
    total = sum(sizes)
    seen: set[str] = set()
    dups = 0
    lengths: dict[str, int] = {}
    for r in rows:
        dups += r[3] in seen
        seen.add(r[3])
        lengths[r[0]] = lengths.get(r[0], 0) + 1
    return {
        "rows": len(rows),
        "bytes": total,
        "no_lt_share": round(sum("<" not in r[3] for r in rows) / len(rows), 4),
        "page_bytes_share": round(sum(s for s in sizes if s > PAGE_BYTES)
                                  / total, 4),
        "exact_dup_share": round(dups / len(rows), 4),
        "longest_conv": max(lengths.values()),
    }
