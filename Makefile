# Developer gates. The pre-snapshot gate is `make gate`: every declared
# query must be value-hash-clean against its DuckDB oracle at the
# driver's exact scale factor (sf0.01) — rows, schema and an
# order-insensitive value hash, as the driver checks them — plus the
# full pytest suite.

PY ?= python
SF001 ?= /root/testdata/sf0.001
SF01 ?= /root/testdata/sf0.01

.PHONY: test test-full oracle driver-sim bench gate

test:
	$(PY) -m pytest tests/ -x -q

test-full:
	SPARK_GRAFT_FULL_TESTS=1 $(PY) -m pytest tests/ -x -q

oracle:
	$(PY) tools/oracle_check.py $(SF001)

# hash-level driver simulation at the driver's SF (sf0.01), all queries
driver-sim:
	$(PY) tools/driver_sim.py $(SF01)

# plan-pin gate: rows, shuffle bytes, spill and exchange count per
# headline query, portable across core counts; walls are reported only.
# Wall statistics and per-layer splits come from perfbench/.
bench:
	$(PY) bench.py

gate: driver-sim test
