#!/bin/sh
# Fast pre-commit gate: registry bookkeeping invariants + driver
# contract (hashable schemas, oracle pairing), then the benchmark's
# own tests (perfbench/tests, no Spark). Runs in seconds —
# REQUIRED before any commit that touches nucliadb_spark/registry.py
# or a plans/queries_*.py module (the driver-unreachable-query bug
# shipped three rounds in a row before this gate existed: r5=29,
# r6=2, r7=3 queries registered without PRIORITY seats).
set -e
cd "$(dirname "$0")/.."
python - <<'EOF'
from nucliadb_spark import registry

qs = set(registry.queries())
pri = registry.PRIORITY
missing = sorted(qs - set(pri))
dangling = sorted(set(pri) - qs)
dupes = sorted({n for n in pri if pri.count(n) > 1})
unpaired = sorted(qs - set(registry.oracle_sql()))
assert not missing, f"driver-unreachable (registered, not in PRIORITY): {missing}"
assert not dangling, f"dangling PRIORITY entries: {dangling}"
assert not dupes, f"duplicate PRIORITY seats: {dupes}"
assert not unpaired, f"queries without an oracle twin: {unpaired}"
print(f"OK: {len(qs)} queries registered == {len(pri)} PRIORITY seats; "
      f"all oracle-paired; window = PRIORITY[:50] ends at {pri[49]!r}")
EOF
# the benchmark's own tests: no Spark, seconds
python3 -m pytest perfbench/tests -q
