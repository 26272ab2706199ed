# Single-command gates (mirrors the reference repo's Makefile check
# discipline — /root/reference/Makefile:22-26 — re-expressed for the
# Spark engine; no mypy in this container, so the typed gate is the
# cross-engine output-type audit instead).

.PHONY: check test typecheck verify bench smoke

# the full local gate: unit/property/plan suites + the cross-engine
# type audit (every oracle's DuckDB DESCRIBE must match Spark dtypes —
# the HUGEINT-class hash-mismatch guard)
check: test typecheck

test:
	python -m pytest tests/ -q

typecheck:
	python tools/type_audit.py

# the driver-style correctness gate in a fresh process (entry +
# all registered queries vs DuckDB at sf0.01)
verify:
	python tools/drive_entry.py

bench:
	python bench.py

# toy runs of the benchmark, untraced and traced; the traced mode patches
# KB and Warehouse methods by name, so this catches a renamed method
smoke:
	python3 perfbench/smoke.py
