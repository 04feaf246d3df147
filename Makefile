# Dev ergonomics (the reference ships a Makefile too: /root/reference/Makefile)
PY := PYTHONPATH=.

.PHONY: test parity dtypes plans bench perfbench perfbench-test pytask-cost parse-file-cost route-cost validate pipeline-demo train-prep-demo submit-check

# the ROADMAP.md tier-1 command: the whole suite, no early stop
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	    timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

parity:
	$(PY) python tools/parity_check.py /root/testdata/sf0.01

dtypes:
	$(PY) python tools/dtype_audit.py /root/testdata/sf0.001

plans:
	$(PY) python tools/plan_report.py

bench:
	SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench.py

# layered parse->route benchmark (perfbench/README.md), one process:
#   make perfbench WL=s3_cascade_agg SEED=7 TRACE=1
WL ?= s3_route
SEED ?= 1
TRACE ?= 0
perfbench:
	python3 perfbench/run.py --workload $(WL) --seed $(SEED) --seconds 6 --trace $(TRACE)

perfbench-test:
	python3 -m pytest perfbench/tests -q

# fixed Python cost per PySpark task and the workers' zip importer count,
# with and without this package imported (scripts/pytask_cost.py):
#   make pytask-cost JOBS=20
JOBS ?= 20
pytask-cost:
	python3 scripts/pytask_cost.py --jobs $(JOBS)

# wall time, Spark jobs and driver-tree peak PSS of Parser.parse_file on a
# seeded CLF file, once cold and 3 times warm (scripts/parse_file_cost.py):
#   make parse-file-cost LINES=200000
LINES ?= 200000
parse-file-cost:
	python3 scripts/parse_file_cost.py --lines $(LINES)

# seconds and microseconds per line of the routed per-line core
# (_Router.route) on the golden S3 corpus, no Spark (scripts/route_cost.py):
#   make route-cost LINES=200000 HANDLERS="json tsv" PREFIX=1
HANDLERS ?= json tsv
PREFIX ?=
route-cost:
	python3 scripts/route_cost.py --lines $(LINES) $(foreach h,$(HANDLERS),--handler $(h)) $(if $(PREFIX),--prefix)

validate:
	$(PY) python tools/validate_all.py

pipeline-demo:
	python scripts/run_pipeline.py --synth 1000 --out /tmp/alp_demo

# the north_rule deployment path, exactly as a cluster would run it:
# package the library, ship via --py-files, run the pipeline entry point
submit-check:
	rm -f /tmp/alp.zip && zip -qr /tmp/alp.zip access_log_parser_spark
	spark-submit --master 'local[4]' --driver-memory 8g \
	    --conf spark.sql.shuffle.partitions=4 --py-files /tmp/alp.zip \
	    scripts/run_pipeline.py --synth 50 --out /tmp/alp_submit_check

train-prep-demo:
	python scripts/prepare_training_data.py --synth 2000 --out /tmp/alp_train_demo \
	    --epoch 1 --alpha 0.5 --quality-min 0.0 --rep-max 1.0
