"""Seeded CSPro ``.DCF``/``.DAT`` corpus for the ``dhs_ingest`` workload.

The corpus is a staging folder with one sub-folder per survey, each holding
a ``<surveyid>.<DICT>.dcf`` / ``<surveyid>.<DICT>.dat`` pair. ``run_pipeline``
scans the folder recursively, so the whole folder is a full load and one
sub-folder is a single-survey reload.

- ``HHA`` and ``HHB`` dictionaries share record names but differ in the
  member record (``HHB`` carries one more item), so ``run_pipeline`` groups
  the surveys into two spec groups and the RECH1 table gets partitions with
  different column sets (the union-of-columns read).
- RECH0 is a 172-char household record (22 items of 7 chars), RECH1 and
  RECH4A are narrow member records.
- ``WIDE`` adds WREC5, a record with 520 one-char payload items, which the
  pipeline writes map-packed (more than 500 payload columns).
- Every survey carries a few lines with record tags no dictionary knows.

The mix (12 narrow surveys, 4 wide ones at 3/4 of the households) makes
packed WREC5 lines about a quarter of the ``.DAT`` bytes, the ratio of the
36 MB packed to the 106 MB narrow synthetic corpus the workload was sized
on. No real DHS corpus was measured for it; ``truth.json`` records the
packed share actually generated.

The same seed gives byte-identical files. ``truth.json`` beside them holds
the expected rows per (survey, record) and the unknown-tag line counts.

Usage: python3 perfbench/gen_cspro.py OUT_DIR [--seed N] [--households N]
"""

from __future__ import annotations

import argparse
import json
import os
import random

DICTS = ("HHA",) * 8 + ("HHB",) * 4 + ("WIDE",) * 4
RECH0_ITEMS = 22  # 7 chars each from col 19: 19 + 22 * 7 - 1 = 172
WIDE_ITEMS = 520  # one char each: crosses the 500-payload-column pack rule
UNKNOWN_TAGS = ("XXX", "ZZ9")


def _item(name: str, label: str, start: int, length: int) -> list[str]:
    return ["", "[Item]", f"Label={label}", f"Name={name}", f"Start={start}", f"Len={length}"]


def _header(name: str, label: str) -> list[str]:
    return [
        "[Dictionary]",
        "Version=CSPro 7.0",
        f"Label={label}",
        f"Name={name}",
        "RecordTypeStart=16",
        "RecordTypeLen=3",
        "Positions=Relative",
        "ZeroFill=Yes",
        "DecimalChar=No",
        "",
        "[Languages]",
        "EN=English",
        "",
        "[Level]",
        "Label=Household",
        "Name=HOUSEHOLD",
        "",
        "[IdItems]",
        *_item("CASEID", "Case Identification", 1, 15),
    ]


def _record(name: str, label: str, tag: str) -> list[str]:
    return ["", "[Record]", f"Label={label}", f"Name={name}", f"RecordTypeValue='{tag}'"]


def _rech0(parts: list[str]) -> None:
    parts += _record("RECH0", "Household's basic data", "H00")
    for i in range(RECH0_ITEMS):
        parts += _item(f"HV{i:03d}", f"Household item {i}", 19 + 7 * i, 7)
    parts += ["", "[ValueSet]", "Label=Household item 0", "Name=HV000_VS1", "Value=1:12"]


def _dcf(dict_name: str) -> str:
    if dict_name == "WIDE":
        parts = _header("WIDEDICT", "Wide-record survey dictionary")
        _rech0(parts)
        parts += _record("WREC5", "Packed wide record", "W50")
        for i in range(WIDE_ITEMS):
            parts += _item(f"WP{i:03d}", f"Packed field {i}", 19 + i, 1)
        return "\n".join(parts) + "\n"
    parts = _header(f"{dict_name}DICT", f"Household survey dictionary {dict_name}")
    _rech0(parts)
    parts += _record("RECH1", "Household member schedule", "H01")
    parts += _item("HVIDX", "Line number", 19, 2)
    parts += _item("HV105", "Age of member", 21, 3)
    parts += [
        "",
        "[ValueSet]",
        "Label=Age of member",
        "Name=HV105_VS1",
        "Value=0:95",
        "Value=98;DK",
    ]
    parts += _item("HV438", "Weight in kg", 24, 7)
    if dict_name == "HHB":
        parts += _item("HV106", "Education level", 31, 2)
    parts += _record("RECH4A", "CS: country specific extras", "H4A")
    parts += _item("IDXH4", "Index to household schedule", 19, 2)
    parts += _item("SH110A", "Extra question one", 21, 1)
    parts += [
        "",
        "[Relation]",
        "Name=HH_MEMBERS",
        "Primary=RECH1",
        "PrimaryLink=HVIDX",
        "Secondary=RECH4A",
        "SecondaryLink=IDXH4",
    ]
    return "\n".join(parts) + "\n"


def _survey_lines(rng: random.Random, sid: int, dict_name: str, households: int):
    """Yield (record_name or unknown tag, line) for one survey's .DAT."""
    unknown_at = {rng.randrange(households): rng.choice(UNKNOWN_TAGS) for _ in range(3)}
    for hh in range(households):
        caseid = f"{sid:>4}{hh:>11}"  # 15 chars, padding is part of the key
        h0 = "".join(
            " " * 7 if rng.random() < 0.05 else f"{rng.randrange(10**7):>7}"
            for _ in range(RECH0_ITEMS)
        )
        yield "RECH0", f"{caseid}H00{h0}"
        if dict_name == "WIDE":
            payload = "".join(rng.choice("0123456789 ") for _ in range(WIDE_ITEMS))
            yield "WREC5", f"{caseid}W50{payload}"
        else:
            members = rng.randint(1, 8)
            for m in range(1, members + 1):
                line = f"{caseid}H01{m:>2}{rng.randrange(96):>3}{rng.randrange(9_000_000):>7}"
                if dict_name == "HHB":
                    line += f"{rng.randrange(20):>2}"
                yield "RECH1", line
            for m in range(rng.randint(0, 2)):
                yield "RECH4A", f"{caseid}H4A{m + 1:>2}{rng.choice('0123456789 ')}"
        if hh in unknown_at:
            tag = unknown_at[hh]
            yield tag, f"{caseid}{tag}junk line"


def generate(out_dir: str, seed: int, households: int = 1100) -> dict:
    """Write the corpus into ``out_dir`` and return the truth record."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    rows: dict[str, dict[str, int]] = {}
    unknown: dict[str, dict[str, int]] = {}
    dat_bytes = 0
    packed_bytes = 0
    lines = 0
    surveys = []
    for i, dict_name in enumerate(DICTS):
        sid = 101 + i
        filecode = f"{sid}.{dict_name}"
        surveys.append({"surveyid": str(sid), "dictionary": dict_name, "filecode": filecode})
        survey_dir = os.path.join(out_dir, str(sid))
        os.makedirs(survey_dir, exist_ok=True)
        with open(os.path.join(survey_dir, f"{filecode}.dcf"), "w", newline="\n") as f:
            f.write(_dcf(dict_name))
        n_hh = households * 3 // 4 if dict_name == "WIDE" else households
        body = []
        for rec, line in _survey_lines(rng, sid, dict_name, n_hh):
            body.append(line)
            if rec == "WREC5":
                packed_bytes += len(line) + 1
            if rec in UNKNOWN_TAGS:
                unknown.setdefault(str(sid), {}).setdefault(rec, 0)
                unknown[str(sid)][rec] += 1
            else:
                rows.setdefault(rec, {}).setdefault(str(sid), 0)
                rows[rec][str(sid)] += 1
        text = "\n".join(body) + "\n"
        with open(os.path.join(survey_dir, f"{filecode}.dat"), "w", newline="\n") as f:
            f.write(text)
        dat_bytes += len(text)
        lines += len(body)
    truth = {
        "seed": seed,
        "surveys": surveys,
        "rows": rows,
        "unknown_tags": unknown,
        "packed_records": ["WREC5"],
        "dat_bytes": dat_bytes,
        "packed_bytes": packed_bytes,
        "dat_lines": lines,
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--households", type=int, default=1100)
    args = ap.parse_args()
    t = generate(args.out_dir, args.seed, args.households)
    print(f"{t['dat_lines']} lines, {t['dat_bytes'] / 1e6:.2f} MB of .DAT")


if __name__ == "__main__":
    main()
