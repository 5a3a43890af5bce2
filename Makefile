# One-command cadence targets (VERDICT r5 #7: the cross-SF sweep must
# rerun every round, not just when remembered).

.PHONY: test test-etl sweep bench lint audit all

test:           ## default suite: every oracle at sf0.01 + unit/property tests
	python -m pytest tests/ -q

test-etl:       ## write-path inner loop: sources, pipeline, streaming, versioned store
	python -m pytest tests/test_sources.py tests/test_pipeline.py tests/test_streaming.py tests/test_versioned.py -q

sweep:          ## cross-SF oracle sweep: every oracle at sf0.001 and sf0.1
	python -m pytest -m sweep tests/test_sweep.py -q

bench:          ## headline bench (sf0.1 unless SPARK_GRAFT_SF_DIR overrides)
	python bench.py

lint:           ## generic 100 TB anti-pattern sweep over all registry plans
	python -m finanalyzer_spark lint --strict

audit:          ## pinned physical-plan expectations -> PLANS.md
	python scripts/plan_audit.py

all: test sweep audit lint
