"""Seeded benchmark fixtures and the values every run is checked
against, built without Spark so that a new seed costs seconds and the
inputs do not change when the engine's own generator does.

    python3 perfbench/fixture.py --seed 7 --turns 200000 --dest DIR

writes under DIR:

* ``full/`` — the dirty 8-day fixture of FIXTURES.md: ``turns``
  (Zipf(1.2) conversation lengths, so the hot conversation holds about
  18% of turns; every dirt class on exactly 1.5% of the rows of days
  1-7; a shifted role mix and compressed hours on the last day),
  ``conversations`` (with five conversations that have no turns),
  ``allowed_tools`` and ``baseline_stats`` (from the clean generation
  without the last day);
* ``certify/turns`` — the one-bad-day delivery: every day from the
  clean generation except ``BAD_PART``, which comes from the dirty one;
* ``expected.json`` — per-rule violation counts and per-partition
  verdicts from the repository's row-at-a-time test oracle
  (``tests/oracle.py``), and the transform's per-stage changed-row
  counts from the text stages each dirt class is built to trip.

``run.py`` hashes the files afterwards, together with this file and the
oracle, and rebuilds a fixture whose hash disagrees with the one it
recorded.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from common import ORACLE, ROOT

ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["search", "browser", "python", "calculator", "editor"]
WORDS = np.array(
    "basel stadt geschichte archiv record turn model answer question tool "
    "result context token table column check valid schema source media item "
    "title rights license creator subject language format extent public "
    "digital object metadata value label über für nach zeit bild karte brief "
    "druck foto plan seite band jahr ort name link note".split()
)
DAYS = 8
BAD_PART = "2026-01-08"  # day 3: dirty, but not the drift day
DIRT_RATE = 0.015
DIRT = ("role", "tool", "url", "nfc", "ws", "ent", "abbr", "empty", "null", "ts", "orphan", "dup")
# (class, dirt, transform stages it changes); applied in this order, and
# empty and null override the classes before them
TEXT_DIRT = (
    ("url", lambda s: s + " see http://example.com/p?q=1 and www.test.ch/a", ()),
    ("nfc", lambda s: s + " zu\u0308rich o\u0308", ("decode_entities_nfc",)),  # decomposed umlauts
    ("ws", lambda s: "  " + s + "\u200b   end ", ("normalize_whitespace",)),
    ("ent", lambda s: s + " &auml;lter &amp; sch&ouml;n", ("decode_entities_nfc",)),
    ("abbr", lambda s: s + " Hans Holbein d.j. und d.ä.", ("normalize_abbreviations",)),
    ("empty", lambda s: "   ", ("normalize_whitespace",)),
    ("null", lambda s: None, ()),
)
STAGES = (
    "decode_entities_nfc",
    "normalize_whitespace",
    "normalize_abbreviations",
    "normalize_markdown_links",
    "normalize_wikidata_url",
    "normalize_urls",
)
ERROR_RULES = {"not_null.text", "non_empty.text", "vocab.role", "unique.turn", "ref.conv_id", "ref.tool"}
BASE = np.datetime64("2026-01-05T00:00:00", "s")


def generate(seed: int, n_turns: int) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame, dict[str, int]]:
    """(dirty turns, clean turns, conversations, transform changed-row
    counts per stage) for one seed. The clean turns are the dirty ones
    before any dirt or drift was applied."""
    rng = np.random.default_rng(seed)
    n_convs = max(4, n_turns // 20)
    lengths = np.maximum(2, np.ceil(n_turns * (np.arange(n_convs) + 1.0) ** -1.2 / 5.59)).astype(
        np.int64
    )
    # conversations go to days round-robin by length rank, so every seed
    # has the same day sizes and the hot conversation always lands on
    # day 1 (dirty, neither the drift day nor the certify bad day)
    conv_day = (np.arange(n_convs) + 1) % DAYS
    conv = np.repeat(np.arange(n_convs), lengths)
    total = len(conv)
    idx = np.arange(total) - np.repeat(np.cumsum(lengths) - lengths, lengths)
    day = conv_day[conv]

    # seconds into the day: sorted uniform draws per conversation, so ts
    # is monotone in turn_idx and every day's hour histogram is flat
    sec = rng.integers(0, 86_000, total)
    sec = sec[np.lexsort((sec, conv))]
    u_role, u_tool = rng.random(total), rng.integers(0, len(TOOLS), total)
    n_words = rng.integers(5, 13, total)
    words = WORDS[rng.integers(0, len(WORDS), (total, 12))]
    text = np.array([" ".join(w[:k]) for w, k in zip(words, n_words)], dtype=object)
    part = (BASE + day * 86_400).astype("datetime64[D]").astype(str)

    # each dirt class hits exactly DIRT_RATE of the day 1-7 rows
    drng = np.random.default_rng([seed, 1])
    eligible = np.flatnonzero(day != 0)
    hit = {}
    for name in DIRT:
        hit[name] = np.zeros(total, bool)
        hit[name][drng.choice(eligible, round(DIRT_RATE * len(eligible)), replace=False)] = True

    # a text shows a class's dirt unless a later class replaced the whole
    # text; a stage changes the texts that show a class listing it, and a
    # duplicated row counts twice
    touched = {stage: np.zeros(total, bool) for stage in STAGES}
    for i, (name, _, stages) in enumerate(TEXT_DIRT):
        shown = hit[name].copy()
        for later, _, _ in TEXT_DIRT[i + 1 :]:
            if later in ("empty", "null"):
                shown &= ~hit[later]
        for stage in stages:
            touched[stage] |= shown
    changed = {stage: int((1 + hit["dup"])[mask].sum()) for stage, mask in touched.items()}

    def turns(dirty: bool) -> pd.DataFrame:
        drift = (day == DAYS - 1) & dirty
        role = np.where(idx % 2 == 1, "user", "assistant").astype(object)
        role[u_role < np.where(drift, 0.35, 0.08)] = "tool"
        role[idx == 0] = "system"
        tool = np.where(role == "tool", np.array(TOOLS, dtype=object)[u_tool], None)
        s = np.where(drift, 28_800 + sec * 28_800 // 86_000, sec)
        conv_id = np.char.add("c", conv.astype(str)).astype(object)
        txt = text.copy()
        if dirty:
            role[hit["role"]] = "moderator"
            tool[hit["tool"]] = "shell"
            for name, fn, _ in TEXT_DIRT:
                txt[hit[name]] = [fn(t) for t in txt[hit[name]]]
            s = np.where(hit["ts"], s - 3_600, s)
            conv_id[hit["orphan"]] = np.char.add("orphan_c", conv[hit["orphan"]].astype(str))
        df = pd.DataFrame(
            {
                "conv_id": conv_id,
                "turn_idx": idx.astype(np.int32),
                "role": role,
                "text": txt,
                "tool": tool,
                "ts": pd.to_datetime(BASE + day * 86_400 + s).tz_localize("UTC"),
                "part": part,
            }
        )
        if dirty:  # duplicated (conv_id, turn_idx) members, hot conversation included
            df = pd.concat([df, df[hit["dup"]]], ignore_index=True)
        return df

    n_all = n_convs + 5
    created_day = np.concatenate([conv_day, rng.integers(0, DAYS, 5)])
    convs = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(n_all)],
            "channel": np.array(["web", "api", "mobile"])[rng.integers(0, 3, n_all)],
            "created_ts": pd.to_datetime(BASE + created_day * 86_400).tz_localize("UTC"),
            "is_public": rng.random(n_all) < 0.8,
            "n_turns_expected": np.concatenate([lengths, np.zeros(5, np.int64)]),
        }
    )
    return turns(True), turns(False), convs, changed


def baseline_stats(clean: pd.DataFrame) -> pd.DataFrame:
    """Relative frequencies of role, tool and hour of day, and fill
    rates of text and tool, over the clean generation minus its last
    day — the snapshot a person signed off on."""
    c = clean[clean["part"] != clean["part"].max()]
    rows = []
    for dim, col in (("role", c["role"]), ("tool", c["tool"]), ("ts_hour_bucket", c["ts"].dt.hour.astype(str))):
        freq = col.dropna().value_counts(normalize=True)
        rows += [(dim, str(v), float(f)) for v, f in freq.items()]
    rows += [("fill_rate", col, float(c[col].notna().mean())) for col in ("text", "tool")]
    return pd.DataFrame(rows, columns=["dim", "value", "freq"])


def write_parts(df: pd.DataFrame, path: str) -> None:
    """Day-partitioned parquet (``part=YYYY-MM-DD/``), one file per day."""
    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    for p, g in df.groupby("part", sort=True):
        os.makedirs(f"{path}/part={p}", exist_ok=True)
        table = pa.Table.from_pandas(g.drop(columns="part"), schema=schema, preserve_index=False)
        pq.write_table(table, f"{path}/part={p}/data.parquet")


def load_oracle():
    """The repository's row-at-a-time oracle of the rule semantics,
    loaded from its file so that nothing of the engine is imported."""
    spec = importlib.util.spec_from_file_location("perfbench_oracle", os.path.join(ROOT, ORACLE))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def expected_violations(
    oracle, turns: pd.DataFrame, convs: set[str], tools: set[str], baseline: dict
) -> tuple[dict[str, int], dict[str, str]]:
    """(per-rule violation counts, per-partition verdicts) of the default
    ``validate()`` run: the oracle's violations counted by rule, and a
    partition FAILED when it holds an error-severity violation or a
    drift finding."""
    rows = turns.to_dict("records")
    part_of = {(r["conv_id"], r["turn_idx"]): r["part"] for r in rows}
    found = oracle.expected_violations(rows, convs, tools)
    drift = oracle.expected_drift_parts(rows, baseline, tools=tools)
    counts = Counter(rule for rule, _, _ in found) + Counter(rule for rule, _ in drift)
    failed = {part_of[(c, i)] for rule, c, i in found if rule in ERROR_RULES} | {p for _, p in drift}
    verdicts = {p: "FAILED" if p in failed else "PASSED" for p in sorted(set(turns["part"]))}
    return dict(sorted(counts.items())), verdicts


def build(seed: int, n_turns: int, dest: str) -> None:
    dirty, clean, convs, changed = generate(seed, n_turns)
    base = baseline_stats(clean)
    full = f"{dest}/full"
    write_parts(dirty, f"{full}/turns")
    os.makedirs(f"{full}/conversations")
    pq.write_table(pa.Table.from_pandas(convs, preserve_index=False), f"{full}/conversations/data.parquet")
    os.makedirs(f"{full}/allowed_tools")
    tools = pd.DataFrame({"tool": TOOLS, "label": [t.capitalize() for t in TOOLS]})
    pq.write_table(pa.Table.from_pandas(tools, preserve_index=False), f"{full}/allowed_tools/data.parquet")
    os.makedirs(f"{full}/baseline_stats")
    pq.write_table(pa.Table.from_pandas(base, preserve_index=False), f"{full}/baseline_stats/data.parquet")
    bad = dirty[dirty["part"] == BAD_PART]
    cert = pd.concat([clean[clean["part"] != BAD_PART], bad], ignore_index=True)
    write_parts(cert, f"{dest}/certify/turns")

    conv_ids, tool_set = set(convs["conv_id"]), set(TOOLS)
    baseline = {(d, v): f for d, v, f in base.itertuples(index=False)}
    oracle = load_oracle()
    full_counts, full_verdicts = expected_violations(oracle, dirty, conv_ids, tool_set, baseline)
    cert_counts, cert_verdicts = expected_violations(oracle, bad, conv_ids, tool_set, baseline)
    expected = {
        "seed": seed,
        "n_turns": n_turns,
        "bad_part": BAD_PART,
        "full": {"turns": len(dirty), "rule_counts": full_counts, "verdicts": full_verdicts},
        "certify": {
            "turns": len(cert),
            "parts": sorted(cert["part"].unique()),
            "validated_turns": len(bad),
            "rule_counts": cert_counts,
            "verdicts": cert_verdicts,
        },
        "transform": {"rows": len(dirty), "changed_rows": changed},
    }
    with open(f"{dest}/expected.json", "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--turns", type=int, required=True)
    p.add_argument("--dest", required=True)
    a = p.parse_args()
    build(a.seed, a.turns, a.dest)


if __name__ == "__main__":
    main()
