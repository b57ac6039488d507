#!/bin/sh
# Full validation: tests + benchmark tests + differential oracle + bench. Exit nonzero on any failure.
set -e
cd "$(dirname "$0")/.."
python -m pytest tests/ -q
python -m pytest perfbench -q
python tools/check_oracle.py "${1:-/root/testdata/sf0.01}"
# stale-sweep guard (VERDICT r5 #9): the newest selfcheck pair must cover
# the whole current catalog with zero failures
python tools/check_sweep_parity.py
python bench.py
