#!/bin/sh
# The marked-slow end-to-end layer (full-registry plan-gate sweep +
# streaming replay e2e), deselected from the default pytest profile
# (pytest.ini) so `python -m pytest tests/` finishes in bounded time.
# Nothing runs this layer automatically: run it after changes to
# streaming, the query registry or the plan gate. Arguments are passed
# to pytest and default to the whole suite, e.g.
#   scripts/run_slow_tests.sh tests/test_streaming.py
cd "$(dirname "$0")/.." || exit 1
[ "$#" -eq 0 ] && set -- tests/
exec python -m pytest "$@" -m slow -x -q --override-ini 'addopts='
