# Packaging + developer targets

zip: htmlparser_spark.zip

htmlparser_spark.zip: $(shell find htmlparser_spark -name '*.py')
	rm -f $@
	cd . && zip -qr $@ htmlparser_spark -i 'htmlparser_spark/*.py'

test:
	python -m pytest tests/ -x -q

bench:
	python3 perfbench/run.py --workload chat_text --seed 1 --seconds 3

scaling:
	python bench/scaling.py

clean:
	rm -f htmlparser_spark.zip

.PHONY: zip test bench scaling clean
