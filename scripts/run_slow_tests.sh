#!/bin/sh
# The marked-slow end-to-end layer (full-registry plan-gate sweep +
# streaming replay e2e), deselected from the default pytest profile so
# the driver's `python -m pytest tests/ -x -q` finishes in budget.
# Run this before shipping a round. Arguments are passed to pytest and
# default to the whole suite, e.g.
#   scripts/run_slow_tests.sh tests/test_streaming.py
cd "$(dirname "$0")/.." || exit 1
[ "$#" -eq 0 ] && set -- tests/
exec python -m pytest "$@" -m slow -x -q --override-ini 'addopts='
