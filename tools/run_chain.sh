#!/bin/bash
# End-of-round serialized verification chain (r11; previously reconstructed
# per-round in /tmp). Run on an OTHERWISE IDLE machine — several steps carry
# timing asserts. Takes 60-90 min: launch detached and poll the log, e.g.
#   setsid nohup bash tools/run_chain.sh > /tmp/chain.log 2>&1 & disown
#
# Order matters: scale_probe main() OVERWRITES SCALING.md; --sf1/--sf10 and
# demux_probe APPEND. If any code lands after this chain, re-run the
# affected steps so any recorded figure is a frozen-HEAD number.
set -e
cd "$(dirname "$0")/.."
# ADVICE r11: a detached setsid/nohup launch from a non-interactive
# context may lack the interactive PATH (pyenv shims etc.), so resolve
# the interpreter up front and fail fast instead of dying at step 1.
# the inner || true keeps set -e from killing the script BEFORE the
# FATAL diagnostic when neither interpreter resolves
PY=${PYTHON:-$(command -v python || command -v python3 || true)}
if [ -z "$PY" ] || ! "$PY" -c 'import pyspark' 2>/dev/null; then
  echo "FATAL: no python with pyspark on PATH (PY='$PY'); set \$PYTHON" >&2
  exit 1
fi
# 24g for EVERYTHING: the 8g default GC-thrashes on demux's wide1e7 tier
# and broadcast-OOMs on minhash_calibration@sf10 (r9 and r11 both hit this
# by scoping the export too narrowly).
export SPARK_GRAFT_DRIVER_MEM=24g
echo "=== chain HEAD: $(git rev-parse HEAD) (python: $PY) ==="
echo "=== [1/13] plan_audit ==="
"$PY" tools/plan_audit.py
echo "=== [2/13] scale_probe (sf0.001-0.1; overwrites SCALING.md) ==="
"$PY" tools/scale_probe.py
echo "=== [3/13] scale_probe --sf1 ==="
"$PY" tools/scale_probe.py --sf1
echo "=== [4/13] scale_probe --sf10 (decade probe) ==="
"$PY" tools/scale_probe.py --sf10
echo "=== [5/13] demux_probe ==="
"$PY" tools/demux_probe.py
echo "=== [6/13] window_warning_audit (sf0.001) ==="
"$PY" tools/window_warning_audit.py
echo "=== [7/13] window_warning_audit at the bench SF (VERDICT r11 ask #3) ==="
"$PY" tools/window_warning_audit.py /root/testdata/sf0.1
echo "=== [8/13] check_oracle sf0.001 + sf0.01 (three-SF hash gate, r13) ==="
"$PY" tools/check_oracle.py /root/testdata/sf0.001
"$PY" tools/check_oracle.py /root/testdata/sf0.01
echo "=== [9/13] check_oracle sf0.1 ==="
"$PY" tools/check_oracle.py /root/testdata/sf0.1
echo "=== [10/13] bitwise probe (full registry, ALL THREE SFs — VERDICT r13 ask #3) ==="
"$PY" tools/bitwise_probe.py /root/testdata/sf0.001 --all
"$PY" tools/bitwise_probe.py /root/testdata/sf0.01 --all
"$PY" tools/bitwise_probe.py /root/testdata/sf0.1 --all
echo "=== [11/13] layout probe (full registry, layout-invariance gate — r14; BOTH SFs: sketch compaction only trips at sf0.01) ==="
"$PY" tools/layout_probe.py /root/testdata/sf0.001
"$PY" tools/layout_probe.py /root/testdata/sf0.01
echo "=== [12/13] config probe (tuned vs driver-vanilla session — r14; BOTH SFs) ==="
"$PY" tools/config_probe.py /root/testdata/sf0.001
"$PY" tools/config_probe.py /root/testdata/sf0.01
echo "=== [13/13] bench ==="
"$PY" bench.py
echo "=== chain complete at $(git rev-parse HEAD) ==="
echo "Now re-run pytest + the vanilla driver simulation at this HEAD"
echo "before recording any figure from this chain."
