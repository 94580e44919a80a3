"""One fresh local session, for the cold-start tests: start it with
``get_spark``, optionally spoil the compiled pyspark zip before the
first Python job starts the daemon, run the text kernel over a fixed
set of documents, and print one JSON line: the rows, the file the
workers imported pyspark from, and the JVM's archive flags.

Usage: python cold_session.py [--drop-pyzip | --foreign-pyzip]
"""

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, os.getcwd())

DOCS = ["<div id=x><p>hi</p><script>junk</script></div>",
        "<p>café &amp; <b>bold</b><br>line</p>",
        "<ul><li>one<li>two</ul><!-- c --><style>s{}</style>tail",
        "<table><tr><td>a<td>b</table><p unclosed",
        ""]


def spoil_pyzip(how: str) -> None:
    """Remove the compiled zip, or put one whose bytecode belongs to
    another interpreter in its place."""
    import zipfile

    from htmlparser_spark import pydaemon
    from htmlparser_spark.coldstart import spark_home

    path = pydaemon.compiled_zip(
        str(spark_home() / "python" / "lib" / "pyspark.zip"))
    if how == "--drop-pyzip":
        os.remove(path)
        return
    tmp = path + ".foreign"
    with zipfile.ZipFile(path) as src, zipfile.ZipFile(tmp, "w") as out:
        for info in src.infolist():
            data = src.read(info)
            if info.filename.endswith(".pyc"):
                data = b"\x00\x00\r\n" + data[4:]
            out.writestr(info, data)
    os.replace(tmp, path)


def main(argv) -> None:
    from pyspark.sql import functions as F

    from htmlparser_spark.kernel import extract_text
    from htmlparser_spark.session import get_spark

    spark = get_spark(app="cold-session", cores=2, shuffle_partitions=2)
    if argv:
        spoil_pyzip(argv[0])
    df = spark.createDataFrame(list(enumerate(DOCS)), "id long, text string")
    rows = extract_text(df, strip=True, include_raw=True) \
        .orderBy("id").drop("text").collect()
    pyspark_file = spark.sparkContext.parallelize([0], 1) \
        .map(lambda _: __import__("pyspark").__file__).collect()[0]
    args = list(spark._jvm.java.lang.management.ManagementFactory
                .getRuntimeMXBean().getInputArguments())
    class_path = spark._jvm.java.lang.System.getProperty("java.class.path")
    # set only by a spark-defaults.conf in a conf dir the test provides
    conf_probe = spark.sparkContext.getConf().get("spark.coldstart.probe",
                                                  None)
    spark.stop()
    print(json.dumps({
        "rows": [list(r) for r in rows],
        "pyspark": pyspark_file,
        "archive_flags": [a for a in args if "Archive" in a or "Xshare" in a],
        "class_path_jar": class_path.split(os.pathsep)[0],
        "conf_probe": conf_probe,
        "checkout": str(Path.cwd())}))


if __name__ == "__main__":
    main(sys.argv[1:])
