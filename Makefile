# ≙ the reference's Makefile shape (/root/reference/Makefile) mapped to
# the Spark build: no compile step, so "all" is test; "wasm"-phase
# equivalents are the oracle/bench harnesses.

.PHONY: all test pins oracle bench example pipeline-example maintenance-example nightly-example smoke

all: test

test:
	python -m pytest tests/ -q

# the graph/IVF seam pins, including the ones marked slow (which the
# default pytest run deselects)
pins:
	python -m pytest tests/test_r13_opt.py tests/test_r14_opt.py -q -m "slow or not slow"

# replicate the driver's t2 correctness gate locally (DuckDB oracle)
oracle:
	python tools/oracle_check.py

# headline queries at $$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
bench:
	python bench.py

# ≙ examples/wasaffi.rs — golden values 4.0, 27.0, 256.0, 3670.684197150057
example:
	python examples/wasaffi.py

# the full LLM training-data flow at sf0.001 -> /tmp/wasaffi_training_set
pipeline-example:
	python examples/training_pipeline.py

# the vector-index lifecycle: build -> search -> append -> insert ->
# delete-with-repair -> warm codebook refresh (r9 maintenance legs)
maintenance-example:
	python examples/index_maintenance.py

# the recurring-ingest story: seeded state -> snapshot_sink micro-batches
# -> per-night reports -> small-file compaction of the state table
nightly-example:
	python examples/nightly_snapshot.py

smoke:
	python -m pytest tests/test_engine_udf.py tests/test_ddl.py tests/test_wasm_guest.py -q
