"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and returns plain turn
rows plus the planted truth pairs ``(id_a, id_b, kind)`` with
``id_a < id_b``. The program under test only ever sees the rows (written
to parquet by ``write_rows``); the truth pairs stay with the benchmark
and feed ``dup_pair_recall``.

- ``planted_dupes``: the ``lieu_spark.corpus`` layout (70 % background,
  10 % exact, 10 % near, 10 % span copies).
- ``boilerplate_skew``: a few long templates, most conversations small
  edits of one of them (distinct ``text_sha``, shared bands, J >= 0.9),
  plus exact copies of variants and some background.
- ``refresh_delta``: a planted base snapshot and a second snapshot that
  removes, edits, renames and adds ~1 % of conversations each.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pandas as pd

from lieu_spark import corpus

COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
BASE_TS = datetime(2025, 6, 1)
WORDS = [f"w{j:04d}" for j in range(4000)]


def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, 0xBE7C, *salt])


def _rows(cid: str, turns: list[tuple[str, str, str]], i: int) -> list[tuple]:
    return [
        (cid, t, role, text, tool, BASE_TS + timedelta(seconds=i * 600 + t * 30))
        for t, (role, text, tool) in enumerate(turns)
    ]


def _fresh_turns(rng: np.random.Generator, n_turns: int, n_words: tuple[int, int]):
    return [
        (
            corpus.ROLES[t % 2],
            " ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(*n_words))),
            "",
        )
        for t in range(n_turns)
    ]


def _edit(turns, rng: np.random.Generator, n_edits: int):
    """Replace ``n_edits`` distinct word positions across the turns."""
    words = [text.split(" ") for _, text, _ in turns]
    flat = [(t, j) for t, ws in enumerate(words) for j in range(len(ws))]
    for k in rng.choice(len(flat), size=min(n_edits, len(flat)), replace=False):
        t, j = flat[int(k)]
        words[t][j] = WORDS[int(rng.integers(0, len(WORDS)))]
    return [(role, " ".join(ws), tool) for (role, _, tool), ws in zip(turns, words)]


def _pair(a: str, b: str, kind: str) -> tuple[str, str, str]:
    return (min(a, b), max(a, b), kind)


def planted_dupes(seed: int, n_convs: int):
    rows = [
        (r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts)
        for r in corpus.generate_rows(seed, n_convs)
    ]
    return rows, corpus.truth_pairs(seed, n_convs)


def boilerplate_skew(seed: int, n_convs: int, n_templates: int = 4):
    """Index layout: i % 10 in 0..6 -> variant of template i % n_templates
    (one word edit of ~300 words, so any two variants have J >= ~0.93);
    i % 10 == 7 -> exact copy of variant i - 7; else background.
    Truth: each variant with the template's first variant, each exact
    copy with its source."""
    tpl_rng = _rng(seed, 1)
    templates = [_fresh_turns(tpl_rng, 6, (45, 55)) for _ in range(n_templates)]
    rows, truth, first = [], [], {}
    for i in range(n_convs):
        cid = corpus.conv_id_str(i)
        m = i % 10
        if m <= 6:
            t = i % n_templates
            turns = _variant_turns(templates, seed, i)
            if t in first:
                truth.append(_pair(first[t], cid, "variant"))
            else:
                first[t] = cid
        elif m == 7:
            turns = _variant_turns(templates, seed, i - 7)
            truth.append(_pair(corpus.conv_id_str(i - 7), cid, "exact"))
        else:
            turns = _fresh_turns(_rng(seed, 2, i), 3 + i % 6, (10, 60))
        rows.extend(_rows(cid, turns, i))
    return rows, truth


def _variant_turns(templates, seed: int, i: int):
    return _edit(templates[i % len(templates)], _rng(seed, 2, i), 1)


def refresh_delta(seed: int, n_convs: int, frac: float = 0.01):
    """Returns (new_rows, new_truth) for the base snapshot
    ``planted_dupes(seed, n_convs)``. Removed, edited and
    renamed conversations are disjoint draws from the base; edits
    append words to one turn; renames move a conversation to a new id;
    adds are exact or near copies of surviving base conversations
    (new duplicate pairs against the standing state) or background."""
    base_rows, base_truth = planted_dupes(seed, n_convs)
    rng = _rng(seed, 3)
    k = max(1, int(n_convs * frac))
    picked = rng.choice(n_convs, size=3 * k, replace=False)
    removed = {corpus.conv_id_str(int(i)) for i in picked[:k]}
    edited = {corpus.conv_id_str(int(i)) for i in picked[k : 2 * k]}
    renamed = {corpus.conv_id_str(int(i)): f"r{corpus.conv_id_str(int(i))}" for i in picked[2 * k :]}

    by_conv: dict[str, list[tuple]] = {}
    for r in base_rows:
        by_conv.setdefault(r[0], []).append(r)
    new_rows: list[tuple] = []
    for cid, turns in by_conv.items():
        if cid in removed:
            continue
        if cid in edited:
            erng = _rng(seed, 4, int(cid[1:]))
            last = max(t[1] for t in turns)
            extra = " ".join(WORDS[int(w)] for w in erng.integers(0, len(WORDS), 12))
            turns = [
                t if t[1] != last else (t[0], t[1], t[2], f"{t[3]} {extra}", t[4], t[5])
                for t in turns
            ]
        nid = renamed.get(cid, cid)
        new_rows.extend((nid, *t[1:]) for t in turns)

    truth = [
        _pair(renamed.get(a, a), renamed.get(b, b), kind)
        for a, b, kind in base_truth
        if a not in removed and b not in removed
    ]
    # copy only unpartnered background (i % 10 in 2..6), so every
    # identical-text group stays a pair and its star edge is the pair
    survivors = sorted(
        c for c in set(by_conv) - removed - edited if int(c[1:]) % 10 in range(2, 7)
    )
    for j in range(k):
        nid = f"n{j:09d}"
        arng = _rng(seed, 5, j)
        kind = ("exact", "near", "background")[j % 3]
        if kind == "background":
            turns = _fresh_turns(arng, int(arng.integers(3, 9)), (10, 60))
        else:
            src = survivors[int(arng.integers(0, len(survivors)))]
            turns = [
                (t[2], t[3], t[4]) for t in sorted(by_conv[src], key=lambda t: t[1])
            ]
            if kind == "near":
                turns = _edit(turns, arng, 1)
            truth.append(_pair(renamed.get(src, src), nid, kind))
        new_rows.extend(_rows(nid, turns, n_convs + j))
    return new_rows, truth


def write_rows(rows: list[tuple], path: Path, n_files: int = 4) -> None:
    """Write turn rows as ``n_files`` parquet files under ``path``."""
    path.mkdir(parents=True, exist_ok=True)
    df = pd.DataFrame(rows, columns=COLUMNS).astype({"turn_idx": "int32"})
    df["ts"] = df["ts"].astype("datetime64[us]").dt.tz_localize("UTC")
    for k, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        df.iloc[part].to_parquet(path / f"part-{k:05d}.parquet", index=False)
