#!/usr/bin/env bash
# Data-SHAPE sweep: build every adversarial fixture from a harness sf dir
# and run the driver-faithful strict sweep over the whole registry on
# each, so no query family can escape an axis. Companion to
# invariance_sweep.sh (config axes); together they cover: layout, scale,
# execution path, key skew, NULL shape, time span, string shape, empty
# input, order-key ties, row order, value-domain extremes, and
# vector-palette extremes (accumulation dtype).
#
#   bash tools/shape_sweep.sh              # from sf0.01, /tmp fixtures
#   SRC=/root/testdata/sf0.1 bash tools/shape_sweep.sh   # 10x variant
#
# On the skew fixture the unbudgeted join_interval_overlap exhibit is
# output-quadratic by contract (count-parity-verified separately); at
# sf0.01 it stays comparable, at sf0.1 use the bounded sibling's row
# instead.
set -euo pipefail
cd "$(dirname "$0")/.."

SRC="${SRC:-/root/testdata/sf0.01}"

echo "== shape 1/9: SKEW (50%-hot keys), full registry =="
python tools/make_skew.py --src "$SRC" --mode skew --dst /tmp/shape_skew
python tools/check_strict.py --sf /tmp/shape_skew

echo "== shape 2/9: NULL (null keys/measures), full registry =="
python tools/make_skew.py --src "$SRC" --mode null --dst /tmp/shape_null
python tools/check_strict.py --sf /tmp/shape_null

echo "== shape 3/9: EMPTY (0 rows, schema preserved), full registry =="
python tools/make_skew.py --src "$SRC" --mode empty --dst /tmp/shape_empty
python tools/check_strict.py --sf /tmp/shape_empty

echo "== shape 4/9: SPAN (timeline x12), full registry =="
python tools/make_skew.py --src "$SRC" --mode span --dst /tmp/shape_span
python tools/check_strict.py --sf /tmp/shape_span

echo "== shape 5/9: TEXT (adversarial unicode/degenerate strings), full registry =="
python tools/make_skew.py --src "$SRC" --mode text --dst /tmp/shape_text
python tools/check_strict.py --sf /tmp/shape_text

echo "== shape 6/9: TIES (order-key tie classes), full registry =="
python tools/make_skew.py --src "$SRC" --mode ties --dst /tmp/shape_ties
python tools/check_strict.py --sf /tmp/shape_ties

echo "== shape 7/9: PERMUTE (row-order shuffle), full registry x cross-engine + self-invariance =="
python tools/make_skew.py --src "$SRC" --mode permute --dst /tmp/shape_permute
python tools/check_strict.py --sf /tmp/shape_permute
python tools/order_invariance.py --a "$SRC" --b /tmp/shape_permute

echo "== shape 8/9: EXTREMES (value-domain edges), full registry =="
python tools/make_skew.py --src "$SRC" --mode extremes --dst /tmp/shape_extremes
python tools/check_strict.py --sf /tmp/shape_extremes

echo "== shape 9/9: EXTREMES-VEC (±1e30/zero/1e-30 embeddings), full registry =="
python tools/make_skew.py --src "$SRC" --mode extremes-vec --dst /tmp/shape_extvec
python tools/check_strict.py --sf /tmp/shape_extvec

echo "SHAPE SWEEP GREEN"
