#!/usr/bin/env bash
# Build sparkgraft-engine.jar, the engine's JVM side:
# - org.sparkgraft.WireDecodeRow, the wire decoder, compiled against the
#   protobuf-java runtime the Spark Connect jar shades
#   (org.sparkproject.connect.protobuf) plus Spark's Java UDF interface;
# - org.sparkgraft.fs.NioLocalFileSystem, the local FileSystem every engine
#   parquet write uses, compiled against Hadoop's client API.
# Requires only a JDK and a pyspark/Spark install — no network, no protoc.
set -euo pipefail
cd "$(dirname "$0")"

SPARK_JARS="${SPARK_JARS:-$(python3 - <<'EOF'
import os, pyspark
print(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
EOF
)}"

CONNECT_JAR=$(ls "$SPARK_JARS"/spark-connect_2.13-*.jar | head -1)
SQL_API_JAR=$(ls "$SPARK_JARS"/spark-sql-api_2.13-*.jar | head -1)
HADOOP_JAR=$(ls "$SPARK_JARS"/hadoop-client-api-*.jar | head -1)

rm -rf classes && mkdir -p classes
javac --release 17 -encoding UTF-8 \
  -cp "$CONNECT_JAR:$SQL_API_JAR:$HADOOP_JAR" \
  -d classes src/org/sparkgraft/WireDecodeRow.java \
  src/org/sparkgraft/fs/NioLocalFileSystem.java
jar cf sparkgraft-engine.jar -C classes .
rm -rf classes
echo "built $(pwd)/sparkgraft-engine.jar"
