"""CSPro ``.DCF`` dictionary parsing — SURVEY.md §2.A A5-A13, Spark-first.

A CSPro dictionary is an INI-like text file of blank-line-delimited chunks
(``[Dictionary]``, ``[Level]``, ``[IdItems]``, ``[Record]``, ``[Item]``,
``[ValueSet]``, ``[Relation]``), where hierarchy is imputed from *order*:
an item belongs to the most recent record, a valueset to the most recent
item, id-items are replayed into every subsequent record. This is inherently
sequential per file, so the unit of Spark parallelism is the *file*: files
are read whole via the ``binaryFile`` source and parsed with an
Arrow-batched ``mapInPandas`` (one pure-Python parse per file, thousands of
files in parallel). The outputs are three spec DataFrames (items, values,
relations) that downstream joins broadcast.

Behavioral parity with the reference parser (all citations into
``/root/reference/DHS_To_Database/cspro_parser/DCF_Parser.py``):

- chunk dispatch + blank-line delimiting (:144-191)
- ``[Dictionary]`` -> synthetic first row ``RecordName='*'`` with
  ItemType='RecordDesciption' (typo is load-bearing; :196-213)
- file-level ZeroFill/DecimalChar defaults applied to items (:211-213,
  :364-367)
- IdItems buffered then re-emitted per record, ItemType='IdItem' (:230-271)
- duplicate level/record names: warning when labels match, error otherwise
  (:218-228, :263-271)
- valueset label similarity QA warning (ratio > 0.7 or prefix; :278-288)
- explicit values split at first ';'; ranges matched by
  ``-?digits:-?digits`` incl. several per line; expansion strategies
  All/Multiple/None with a size cap; tags ExplicitValue / ExpandedRange /
  RangeMin / RangeMax / MultiRangeMin / MultiRangeMax (:290-335, :399-472)
- two valuesets per item are merged (:337-342)
- key=value split at FIRST '='; first occurrence of a key wins (:388-390,
  :474-476)
- relation blocks are a stateful sub-parser emitting one row per join,
  missing links mean row-index joins, ``*ROWID*`` (:537-645)
- items referenced by any relation become ItemType='JoinableItem' (:477-489)
- derived FMETYPE = ``fme_char(<Len>)``; FileCode consistency (:496-534)
"""

from __future__ import annotations

import difflib
import re
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

ITEM_COLUMNS = [
    "FileCode",
    "ItemType",
    "RecordName",
    "RecordTypeValue",
    "RecordLabel",
    "LevelName",
    "LevelLabel",
    "Name",
    "Label",
    "Start",
    "Len",
    "Occurrences",
    "ZeroFill",
    "DecimalChar",
    "Decimal",
    "FMETYPE",
]
VALUE_COLUMNS = ["FileCode", "Name", "Value", "ValueDesc", "ValueType"]
RELATION_COLUMNS = [
    "FileCode",
    "RelName",
    "PrimaryTable",
    "PrimaryLink",
    "SecondaryTable",
    "SecondaryLink",
]

_RANGE_RE = re.compile(r"(-?[0-9]+(?:\.[0-9]+)?):(-?[0-9]+(?:\.[0-9]+)?)")

ROWID = "*ROWID*"


class DcfParseError(ValueError):
    pass


@dataclass
class _RelationState:
    """Stateful sub-parser for ``[Relation]`` blocks.

    One block declares joins from one primary table to one or more secondary
    tables; a join side without an explicit link column is a row-index join
    (``*ROWID*``). Emission points: a new ``PrimaryLink`` or ``Secondary``
    key closes the previously-specified join; the end of the block force-emits
    the last one. (Reference semantics: DCF_Parser.py:588-645.)
    """

    name: str = ""
    primary: str = ""
    primary_link: str = ""
    secondary: str = ""
    secondary_link: str = ""

    def _snapshot(self) -> dict | None:
        if not self.name or not self.primary or not self.secondary:
            return None
        return {
            "RelName": self.name,
            "PrimaryTable": self.primary,
            "PrimaryLink": self.primary_link or ROWID,
            "SecondaryTable": self.secondary,
            "SecondaryLink": self.secondary_link or ROWID,
        }

    def feed(self, key: str, value: str) -> dict | None:
        if key == "Name":
            if self.name:
                raise DcfParseError("relation Name already set; block not terminated")
            self.name = value
            return None
        if key == "Primary":
            if self.primary:
                raise DcfParseError("relation Primary already set; block not terminated")
            self.primary = value
            return None
        if key == "PrimaryLink":
            emitted = self._snapshot()
            self.primary_link = value
            self.secondary = ""
            self.secondary_link = ""
            return emitted
        if key == "Secondary":
            emitted = self._snapshot()
            if self.secondary:
                # consecutive Secondary keys: previous join side was an
                # occurrence (row-index) join on the primary side
                self.primary_link = ""
            self.secondary = value
            self.secondary_link = ""
            return emitted
        if key == "SecondaryLink":
            self.secondary_link = value
            return None
        raise DcfParseError(f"unknown relation key {key!r}")

    def close(self) -> dict | None:
        emitted = self._snapshot()
        self.name = ""
        self.primary = ""
        self.primary_link = ""
        self.secondary = ""
        self.secondary_link = ""
        return emitted


@dataclass
class DcfResult:
    items: list[dict] = field(default_factory=list)
    values: list[dict] = field(default_factory=list)
    relations: list[dict] = field(default_factory=list)
    warnings: list[str] = field(default_factory=list)


def _label_similar(a: str, b: str) -> bool:
    return difflib.SequenceMatcher(None, a, b).ratio() > 0.7 or a.startswith(b)


def parse_dcf_text(
    filecode: str,
    text: str,
    expand_ranges: str = "All",
    range_expansion_limit: int = 10000,
) -> DcfResult:
    """Parse one dictionary's text into flat spec rows.

    ``expand_ranges``: "All" expands every integer range (subject to the
    cap), "Multiple" only when an item declares several ranges, "None"
    never; unexpanded/oversized ranges emit min/max endpoint rows tagged
    (Multi)RangeMin/Max.
    """
    if expand_ranges not in ("All", "Multiple", "None"):
        raise DcfParseError(f"invalid expand_ranges {expand_ranges!r}")

    out = DcfResult()

    chunk_type = "None"  # which [Section] we're inside
    mode = "None"  # Dictionary | IdItems | Records | Relation
    skipping = False
    chunk: dict = {}
    pending_values: list[tuple] = []  # explicit values of the open valueset
    pending_ranges: list[tuple] = []  # (min, max, desc) of the open valueset

    level_name = ""
    level_label = ""
    file_zero_fill = ""
    file_dec_char = ""
    record_name = "N/A"
    record_label = "N/A"
    record_type_value = "N/A"
    id_items: list[dict] = []
    seen_levels: dict[str, str] = {}
    seen_records: dict[str, str] = {}
    values_by_item_idx: dict[int, list[tuple]] = {}
    relation = _RelationState()

    def close_chunk(lineno: int) -> None:
        nonlocal skipping, chunk, chunk_type, pending_values, pending_ranges
        nonlocal level_name, level_label, file_zero_fill, file_dec_char
        nonlocal record_name, record_label, record_type_value
        if skipping:
            skipping = False
            chunk = {}
            return
        if chunk_type == "Dictionary":
            row = dict(chunk)
            row["FileCode"] = filecode
            row["RecordName"] = "*"
            row["RecordLabel"] = "*"
            row["RecordTypeValue"] = "*"
            row["Start"] = row.get("RecordTypeStart", "1")
            row["Len"] = row.get("RecordTypeLen", "0")
            row["ItemType"] = "RecordDesciption"  # sic — load-bearing typo
            file_zero_fill = row.get("ZeroFill", "")
            file_dec_char = row.get("DecimalChar", "")
            out.items.append(row)
        elif chunk_type == "Level":
            level_name = chunk.get("Name", "")
            level_label = chunk.get("Label", "")
            if level_name in seen_levels:
                if seen_levels[level_name] == level_label:
                    out.warnings.append(f"duplicate level {level_name!r} at line {lineno}")
                else:
                    raise DcfParseError(
                        f"duplicate level name {level_name!r} with different label at line {lineno}"
                    )
            seen_levels[level_name] = level_label
        elif chunk_type == "Record":
            record_name = chunk.get("Name", "")
            record_label = chunk.get("Label", "")
            record_type_value = chunk.get("RecordTypeValue", "").strip("'")
            # replay each buffered id-item into this record (reference
            # :247-261): id columns repeat into every table
            for id_item in id_items:
                row = dict(chunk)
                row["FileCode"] = filecode
                row["RecordName"] = record_name
                row["RecordLabel"] = record_label
                row["RecordTypeValue"] = record_type_value
                row["LevelName"] = level_name
                row["LevelLabel"] = level_label
                row["ItemType"] = "IdItem"
                row["Name"] = id_item["Name"]
                row["Label"] = id_item["Label"]
                row["Start"] = id_item["Start"]
                row["Len"] = id_item["Len"]
                out.items.append(row)
            if record_name in seen_records:
                if seen_records[record_name] == record_label:
                    out.warnings.append(f"duplicate record {record_name!r} at line {lineno}")
                else:
                    raise DcfParseError(
                        f"duplicate record name {record_name!r} with different label at line {lineno}"
                    )
            seen_records[record_name] = record_label
        elif chunk_type == "Item":
            if mode == "Records":
                row = dict(chunk)
                row["FileCode"] = filecode
                row["RecordName"] = record_name
                row["RecordLabel"] = record_label
                row["RecordTypeValue"] = record_type_value
                row["LevelName"] = level_name
                row["LevelLabel"] = level_label
                row.setdefault("ZeroFill", file_zero_fill)
                row.setdefault("DecimalChar", file_dec_char)
                row["ItemType"] = "Item"
                out.items.append(row)
            elif mode == "IdItems":
                id_items.append(
                    {
                        "Name": chunk.get("Name", ""),
                        "Label": chunk.get("Label", ""),
                        "Start": chunk.get("Start", ""),
                        "Len": chunk.get("Len", ""),
                    }
                )
        elif chunk_type == "ValueSet":
            if not out.items:
                raise DcfParseError(f"valueset before any item at line {lineno}")
            vs_label = chunk.get("Label", "")
            item_label = out.items[-1].get("Label", "")
            if not _label_similar(vs_label, item_label):
                out.warnings.append(
                    f"valueset label {vs_label!r} does not match item {item_label!r}"
                    f" at line {lineno}"
                )
            vals = list(pending_values)
            multiple = len(pending_ranges) > 1
            for vmin_s, vmax_s, desc in pending_ranges:
                vmin, vmax = float(vmin_s), float(vmax_s)
                size = (vmax - vmin) + 1
                if size <= 1:
                    raise DcfParseError(f"bad range {vmin_s}:{vmax_s} at line {lineno}")
                is_int = vmin.is_integer() and vmax.is_integer()
                expand = (
                    size <= range_expansion_limit
                    and is_int
                    and (
                        expand_ranges == "All"
                        or (expand_ranges == "Multiple" and multiple)
                    )
                )
                if expand:
                    vals.extend(
                        (v, desc, "ExpandedRange") for v in range(int(vmin), int(vmax) + 1)
                    )
                elif multiple:
                    # reference parity: DCF_Parser appends float(min)/float(max),
                    # so unexpanded endpoints surface as '1.0', not '1'
                    vals.append((str(vmin), desc, "MultiRangeMin"))
                    vals.append((str(vmax), desc, "MultiRangeMax"))
                else:
                    vals.append((str(vmin), desc, "RangeMin"))
                    vals.append((str(vmax), desc, "RangeMax"))
            # an item may carry two valueset chunks: merge (reference :337-342)
            idx = len(out.items) - 1
            values_by_item_idx.setdefault(idx, []).extend(vals)
            pending_values = []
            pending_ranges = []
        elif chunk_type == "Relation":
            emitted = relation.close()
            if emitted is not None:
                emitted["FileCode"] = filecode
                out.relations.append(emitted)
        chunk = {}
        # a close consumes the section: consecutive blank lines (or a
        # trailing blank line followed by the EOF close) must be no-ops,
        # not a replay of the section-close side effects
        chunk_type = "None"

    for lineno, raw in enumerate(text.splitlines(), start=1):
        line = raw.rstrip("\r\n")
        stripped = line.strip()
        if stripped.startswith("[") and "]" in stripped:
            section = stripped[1 : stripped.index("]")]
            if section in ("Level", "Record", "Item", "ValueSet", "IdItems", "Dictionary", "Relation"):
                chunk_type = section
                skipping = False
                chunk = {}
                if section == "IdItems":
                    mode = "IdItems"
                    id_items = []
                elif section == "Record":
                    mode = "Records"
                elif section in ("Dictionary", "Relation"):
                    mode = section
            else:
                skipping = True
        elif stripped == "":
            close_chunk(lineno)
        else:
            eq = line.find("=")
            if eq == -1:
                continue
            key = line[:eq].strip()
            val = line[eq + 1 :].strip()
            if mode == "Relation" and chunk_type == "Relation":
                emitted = relation.feed(key, val)
                if emitted is not None:
                    emitted["FileCode"] = filecode
                    out.relations.append(emitted)
            elif key == "Value":
                # description comes after the first ';' (may itself contain
                # ':' — check desc first so times aren't parsed as ranges)
                semi = val.find(";")
                if semi != -1:
                    desc = val[semi + 1 :].strip()
                    val_part = val[:semi]
                else:
                    desc = ""
                    val_part = val
                ranges = _RANGE_RE.findall(val_part)
                if ranges:
                    pending_ranges.extend((lo, hi, desc) for lo, hi in ranges)
                else:
                    pending_values.append((val_part, desc, "ExplicitValue"))
            elif key not in chunk:
                chunk[key] = val  # first occurrence wins
    close_chunk(-1)  # EOF terminates any open chunk

    # tag join columns (reference :477-489): any item referenced by a
    # relation link becomes a JoinableItem
    join_cols: dict[str, set] = {}
    for rel in out.relations:
        if rel["PrimaryLink"] != ROWID:
            join_cols.setdefault(rel["PrimaryTable"], set()).add(rel["PrimaryLink"])
        if rel["SecondaryLink"] != ROWID:
            join_cols.setdefault(rel["SecondaryTable"], set()).add(rel["SecondaryLink"])
    for item in out.items:
        if item["ItemType"] == "Item" and item.get("Name") in join_cols.get(
            item["RecordName"], ()
        ):
            item["ItemType"] = "JoinableItem"

    # flatten values (after joinable tagging so indexes are stable)
    for idx, vals in values_by_item_idx.items():
        item = out.items[idx]
        for v, desc, vtype in vals:
            out.values.append(
                {
                    "FileCode": filecode,
                    "Name": item.get("Name", ""),
                    "Value": str(v),
                    "ValueDesc": desc,
                    "ValueType": vtype,
                }
            )

    # derived FME type + consistency (reference :496-534)
    for item in out.items:
        item["FMETYPE"] = f"fme_char({item.get('Len', '')})"
        if item["FileCode"] != filecode:
            raise DcfParseError("inconsistent FileCode within one dictionary")
    return out


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def _rows(result: DcfResult, columns: list[str], which: str) -> list[list]:
    rows = getattr(result, which)
    return [[str(r.get(c, "")) for c in columns] for r in rows]


def parse_dcf_files(
    spark,
    path: str | list[str],
    expand_ranges: str = "All",
    range_expansion_limit: int = 10000,
):
    """Parse every ``*.dcf`` under ``path`` into three spec DataFrames.

    Distribution model: one task per file (``binaryFile`` source rows are
    (path, content) pairs), pure-Python parse inside ``mapInPandas`` —
    Arrow-batched, no driver bottleneck, linear scale-out across files.
    Returns ``(items_df, values_df, relations_df)``; all columns string-typed
    (the reference stores specs as strings too, FIXTURES.md §1). The
    ``FileCode`` is the file's basename without extension (reference
    DCF_Parser.py:30).
    """
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    files = spark.read.format("binaryFile").option("pathGlobFilter", "*.[dD][cC][fF]").load(path)

    all_cols = (
        [f"i_{c}" for c in ITEM_COLUMNS]
        + [f"v_{c}" for c in VALUE_COLUMNS]
        + [f"r_{c}" for c in RELATION_COLUMNS]
        + ["kind"]
    )
    schema = StructType([StructField(c, StringType()) for c in all_cols])

    def parse_batch(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            for path_str, content in zip(pdf["path"], pdf["content"]):
                filecode = path_str.rsplit("/", 1)[-1].rsplit(".", 1)[0]
                text = _decode_bytes(bytes(content))
                res = parse_dcf_text(filecode, text, expand_ranges, range_expansion_limit)
                for r in _rows(res, ITEM_COLUMNS, "items"):
                    out_rows.append(r + [""] * (len(VALUE_COLUMNS) + len(RELATION_COLUMNS)) + ["item"])
                for r in _rows(res, VALUE_COLUMNS, "values"):
                    out_rows.append(
                        [""] * len(ITEM_COLUMNS) + r + [""] * len(RELATION_COLUMNS) + ["value"]
                    )
                for r in _rows(res, RELATION_COLUMNS, "relations"):
                    out_rows.append(
                        [""] * (len(ITEM_COLUMNS) + len(VALUE_COLUMNS)) + r + ["relation"]
                    )
            yield pd.DataFrame(out_rows, columns=all_cols)

    # Materialized once and owned by the returned frames: a cached plan
    # would be served again to a later parse of the same (since rewritten)
    # paths, and would stay in the session's cache after its last use.
    parsed = (
        files.select("path", "content")
        .mapInPandas(parse_batch, schema)
        .localCheckpoint(eager=True)
    )

    items = parsed.filter(F.col("kind") == "item").select(
        *[F.col(f"i_{c}").alias(c) for c in ITEM_COLUMNS]
    )
    values = parsed.filter(F.col("kind") == "value").select(
        *[F.col(f"v_{c}").alias(c) for c in VALUE_COLUMNS]
    )
    relations = parsed.filter(F.col("kind") == "relation").select(
        *[F.col(f"r_{c}").alias(c) for c in RELATION_COLUMNS]
    )
    return items, values, relations


def _decode_bytes(content: bytes) -> str:
    """Decode with a light-weight sniff (reference uses chardet, A4):
    honor UTF-16 BOMs, then try UTF-8 (utf-8-sig also strips a BOM when
    present; it accepts exactly the byte strings plain utf-8 accepts),
    fall back to cp1252 which never fails."""
    if content.startswith(b"\xff\xfe"):
        return content.decode("utf-16-le").lstrip("\ufeff")
    if content.startswith(b"\xfe\xff"):
        return content.decode("utf-16-be").lstrip("\ufeff")
    try:
        return content.decode("utf-8-sig")
    except UnicodeDecodeError:
        return content.decode("cp1252", errors="replace")
