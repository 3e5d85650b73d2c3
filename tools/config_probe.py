"""Session-config invariance probe: every registered query, bit-identical
output on the tuned engine session AND a driver-like vanilla session.

The driver builds ITS OWN SparkSession (see .claude/skills/verify) —
none of `dhs_to_database_spark.session.get_spark`'s settings (Arrow,
shuffle.partitions=32, UTC timezone, 64 MB broadcast threshold, skew
join) are present when grades are computed. Every local value gate
(check_oracle, bitwise_probe, layout_probe) runs on the tuned session,
and the vanilla driver simulation only `.count()`s — so a query whose
VALUES depend on session config would be green under every local gate
and still hash-red under the driver. That is the same
local-instrument-more-forgiving-than-the-driver class as r12's
normalizer asymmetry; this probe closes it for config.

Mechanics: two subprocesses (a stopped-and-rebuilt session in one
process can leak SQL-conf state; separate JVMs cannot), one per mode:

  tuned   — dhs_to_database_spark.session.get_spark, exactly the
            session check_oracle/bitwise_probe use;
  vanilla — a bare builder.master(local[8]) with only the UI flags the
            driver sim sets, i.e. default shuffle.partitions=200,
            default Arrow, default broadcast threshold, system timezone.

Each worker runs every registered query (rows-only included) and writes
a sha256 digest of bitwise_probe.frame_key(result) per query — rows
sorted, floats as struct-packed bytes, zero normalization, so the
comparison is exactly as strict as the layout probe's. The parent
compares the two digest maps.

Session hygiene rides along. Each worker diffs ``spark.conf.getAll``
around every query, and any changed key outside ``CONF_CHANGE_OK`` fails
the probe (``CONFLEAK``). A query that leaves an entry in the session's
CacheManager fails it too (``CACHELEAK``, no allowlist). Each worker also
runs with its own ``TMPDIR``; once it has exited, any entry left there
that is not one of the JVM's own (``perfbench/harness.py``'s
``JVM_TMP_PREFIXES``) fails the probe (``TMPLEAK``).

Any session-dependent behavior a query needs (e.g. nanosAsLong for the
events corpus, UTC timestamp semantics) must be established at runtime
inside the library — that contract is WHY the vanilla run can demand
bit-equality rather than mere execution.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import tempfile

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for p in (
    _REPO_ROOT,
    os.path.dirname(os.path.abspath(__file__)),
    os.path.join(_REPO_ROOT, "perfbench"),
):
    if p not in sys.path:
        sys.path.insert(0, p)

from harness import JVM_TMP_PREFIXES, conf_diff, conf_snapshot  # noqa: E402

# Queries whose output may legitimately differ across session configs.
# Same contract as layout_probe.LAYOUT_DEPENDENT_OK: registered name +
# documented semantic reason, pinned empty by the gate tests.
CONFIG_DEPENDENT_OK: dict[str, str] = {}

# Session conf keys a query may leave changed, with the reason. Pinned by
# the gate tests like the allowlist above.
CONF_CHANGE_OK: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": (
        "events.parquet stores TIMESTAMP(NANOS), which Spark reads only"
        " with this legacy flag; the driver's vanilla session lacks it, so"
        " the events loaders set it on the live session"
    ),
}


def cache_empty(spark) -> bool:
    """True when the session's CacheManager holds no cached plan."""
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def probe_query(spark, fn, sf: str) -> tuple[str, list[str], bool]:
    """Run one query: ``(result digest, conf keys it left changed outside
    CONF_CHANGE_OK, whether it left a CacheManager entry)``. A leaked
    entry is cleared so the next query is judged on its own."""
    from bitwise_probe import frame_key

    before, was_empty = conf_snapshot(spark), cache_empty(spark)
    key = frame_key(fn(spark, sf).toPandas())
    changed = [k for k in conf_diff(before, conf_snapshot(spark)) if k not in CONF_CHANGE_OK]
    cache_left = was_empty and not cache_empty(spark)
    if cache_left:
        spark.catalog.clearCache()
    return hashlib.sha256(repr(key).encode()).hexdigest(), changed, cache_left


def _worker(mode: str, sf: str, out_path: str) -> None:
    if mode == "tuned":
        from dhs_to_database_spark.session import get_spark

        spark = get_spark("config_probe_tuned")
    else:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )

    import __spark_entry__ as em

    digests: dict[str, str] = {}
    conf_changed: dict[str, list[str]] = {}
    cache_left: list[str] = []
    for name, fn in em.queries().items():
        digests[name], changed, cached = probe_query(spark, fn, sf)
        if changed:
            conf_changed[name] = changed
        if cached:
            cache_left.append(name)
    with open(out_path, "w") as fh:
        json.dump(
            {"digests": digests, "conf_changed": conf_changed, "cache_left": cache_left}, fh
        )


def main() -> int:
    if len(sys.argv) >= 2 and sys.argv[1] == "--worker":
        _worker(sys.argv[2], sys.argv[3], sys.argv[4])
        return 0

    sf = next(
        (a for a in sys.argv[1:] if not a.startswith("--")),
        "/root/testdata/sf0.001",
    )
    maps: dict[str, dict[str, str]] = {}
    hygiene: list[str] = []
    for mode in ("tuned", "vanilla"):
        with tempfile.TemporaryDirectory(prefix="config_probe_") as scratch:
            out, tmp = os.path.join(scratch, "digests.json"), os.path.join(scratch, "tmp")
            os.mkdir(tmp)
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--worker", mode, sf, out],
                check=True,
                cwd=_REPO_ROOT,
                env=dict(os.environ, TMPDIR=tmp),
            )
            with open(out) as fh:
                record = json.load(fh)
            left = sorted(e for e in os.listdir(tmp) if not e.startswith(JVM_TMP_PREFIXES))
        maps[mode] = record["digests"]
        for name, keys in record["conf_changed"].items():
            hygiene.append(f"CONFLEAK {mode} {name}: {', '.join(keys)}")
        hygiene += [f"CACHELEAK {mode} {name}" for name in record["cache_left"]]
        hygiene += [f"TMPLEAK  {mode} {e}" for e in left]

    fails, allowed = [], []
    for name, d_tuned in maps["tuned"].items():
        d_van = maps["vanilla"].get(name)
        if d_tuned == d_van:
            print(f"CONFOK   {name}")
        elif name in CONFIG_DEPENDENT_OK:
            allowed.append(name)
            print(f"ALLOWED  {name} ({CONFIG_DEPENDENT_OK[name]})")
        else:
            fails.append(name)
            print(f"CONFDIFF {name}: tuned {d_tuned[:12]} vs vanilla {str(d_van)[:12]}")
    print(
        "\nconfig-invariant:",
        len(maps["tuned"]) - len(fails) - len(allowed),
        "allowlisted:",
        allowed,
        "config-dependent FAILURES:",
        fails,
    )
    print(*hygiene, sep="\n")
    print("session-hygiene FAILURES:", len(hygiene))
    return 1 if fails or hygiene else 0


if __name__ == "__main__":
    sys.exit(main())
