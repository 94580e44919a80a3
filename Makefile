# Packaging + developer targets

zip: htmlparser_spark.zip

htmlparser_spark.zip: $(shell find htmlparser_spark -name '*.py')
	rm -f $@
	cd . && zip -qr $@ htmlparser_spark -i 'htmlparser_spark/*.py'

# the file: system adapter (htmlparser_spark.session binds it); the
# compiled jar is committed, tests/test_commit_path.py checks it matches
JAR_SRC = htmlparser_spark/jvm/NioLocalFileSystem.java
JAR = htmlparser_spark/jvm/htmlparser-localfs.jar
SPARK_HOME ?= $(shell python -c 'import os, pyspark; print(os.path.dirname(pyspark.__file__))')

jar: $(JAR)

$(JAR): $(JAR_SRC)
	rm -rf build/jvm && mkdir -p build/jvm
	javac --release 17 -cp "$(SPARK_HOME)/jars/*" -d build/jvm $(JAR_SRC)
	rm -f $@
	cd build/jvm && jar --create --file ../../$@ --date=2000-01-01T00:00:00Z htmlparser_spark

test:
	python -m pytest tests/ -x -q

# the Tier-1 command of ROADMAP.md, word for word: every test, the CPU
# count and the Spark scratch directory it runs with
tier1:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python3 perfbench/run.py --workload chat_text --seed 1 --seconds 3

scaling:
	python bench/scaling.py

# the cold-start caches get_spark keeps outside the checkout
# (htmlparser_spark/coldstart.py): pre-build them for an image or a CI
# runner, or drop them
cache:
	python -c 'from htmlparser_spark.coldstart import prebuild; prebuild()'

clean-cache:
	rm -rf "$${XDG_CACHE_HOME:-$$HOME/.cache}/htmlparser_spark"

clean:
	rm -rf htmlparser_spark.zip build

.PHONY: zip jar test tier1 bench scaling cache clean-cache clean
