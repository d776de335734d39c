#!/usr/bin/env bash
# Live Cassandra -> MySQL conformance gate — run OUTSIDE the build
# sandbox (needs docker + network). This is the full reference shape
# (snapshot_use_pyspark.py: Cassandra session read -> Spark -> MySQL
# INSERT IGNORE) driven through the UNMODIFIED production pipeline:
#   - SOURCE: the jar-gated Spark Cassandra connector binding
#     (graft.pipeline.CassandraSource) against a genuine cassandra:3.11,
#     seeded from the orders fixture via cqlsh COPY;
#   - TOKENS: the exact-Murmur3 `cassandra_token` expression over the
#     full signed-64 ring, so checkpoint ranges align with the server's
#     Murmur3Partitioner;
#   - SINK/CHECKPOINTS/WAL: JdbcTableSink + JdbcCheckpoints + K5 DDL
#     with MySqlDialect against a genuine MySQL 5.7.
# Asserts: source/sink count parity, all checkpoint ranges COMPLETE,
# no orphaned WAL rows, and second-run idempotency.
#
# In-sandbox, the source binding is probe-tested (fails fast without
# the jar; CassandraSourceSpec) and the dialect text executes against
# Derby through MySqlEmu — this script is the deploy-time completion of
# both checks on the real engines.
#
# Prereqs: docker compose, sbt, python3+duckdb, and BOTH driver jars in
# lib/ (sbt picks up unmanaged jars, no code changes):
#   spark-cassandra-connector-assembly_2.13-*.jar
#   mysql-connector-j-*.jar
#
# Usage: tools/cassandra_conformance.sh [sf-dir]  (default /root/testdata/sf0.001)
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.001}"
URL="jdbc:mysql://127.0.0.1:3306/checkpoint_db?useSSL=false&allowPublicKeyRetrieval=true"
MYSQL="docker exec graft_mysql_conformance mysql -uuser -ppassword checkpoint_db -N -s -e"
CQLSH="docker exec graft_cassandra_conformance cqlsh -e"

ls lib/spark-cassandra-connector*.jar >/dev/null 2>&1 || {
  echo "FATAL: put spark-cassandra-connector-assembly_2.13-*.jar into lib/ first" >&2; exit 1; }
ls lib/mysql-connector-j-*.jar >/dev/null 2>&1 || {
  echo "FATAL: put mysql-connector-j-*.jar into lib/ first" >&2; exit 1; }

docker compose -f tools/cassandra-compose.yml up -d
trap 'docker compose -f tools/cassandra-compose.yml down -v' EXIT

echo "waiting for cassandra (first boot takes ~1 min)..."
for i in $(seq 1 90); do
  $CQLSH "SELECT release_version FROM system.local" >/dev/null 2>&1 && break
  sleep 2
done
$CQLSH "SELECT release_version FROM system.local" >/dev/null || {
  echo "FATAL: cassandra never came up" >&2; exit 1; }
echo "waiting for mysql..."
for i in $(seq 1 60); do
  $MYSQL "SELECT 1" >/dev/null 2>&1 && break
  sleep 2
done
$MYSQL "SELECT 1" >/dev/null || { echo "FATAL: mysql never came up" >&2; exit 1; }

echo "== seed: keyspace + orders table from the fixture =="
$CQLSH "CREATE KEYSPACE IF NOT EXISTS graft WITH replication = {'class':'SimpleStrategy','replication_factor':1}"
$CQLSH "CREATE TABLE IF NOT EXISTS graft.orders (
  o_orderkey bigint PRIMARY KEY, o_custkey bigint, o_orderstatus text,
  o_totalprice double, o_orderdate date, o_orderpriority text,
  o_clerk text, o_shippriority int, o_comment text)"

python3 - "$SF_DIR" <<'EOF'
import sys, duckdb
duckdb.sql(f"""
  COPY (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority, o_clerk, o_shippriority, o_comment
        FROM '{sys.argv[1]}/orders.parquet' ORDER BY o_orderkey)
  TO '/tmp/graft_orders_seed.csv' (HEADER false)""")
EOF
docker cp /tmp/graft_orders_seed.csv graft_cassandra_conformance:/tmp/seed.csv
$CQLSH "COPY graft.orders (o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_orderpriority,o_clerk,o_shippriority,o_comment) FROM '/tmp/seed.csv'"
SRC_COUNT=$($CQLSH "SELECT COUNT(*) FROM graft.orders" | sed -n '4p' | tr -d ' ')

run_migrate() {
  sbt -batch "runMain graft.pipeline.MigrateMain \
    --cassandra-keyspace graft --cassandra-table orders \
    --cassandra-host 127.0.0.1 \
    --key o_orderkey --ranges 16 \
    --rename o_orderkey=file_id \
    --jdbc-url $URL --jdbc-user user --jdbc-password password \
    --jdbc-table orders_sink --jdbc-key-cols file_id"
}

echo "== run 1: bootstrap + full migration =="
run_migrate

DST_COUNT=$($MYSQL "SELECT COUNT(*) FROM orders_sink")
INCOMPLETE=$($MYSQL "SELECT COUNT(*) FROM migration_checkpoint WHERE checkpoint <> range_end")
ORPHANS=$($MYSQL "SELECT COUNT(*) FROM migration_wal WHERE status = 'STARTED'")

[ "$SRC_COUNT" = "$DST_COUNT" ] || { echo "FAIL: count parity $SRC_COUNT != $DST_COUNT"; exit 1; }
[ "$INCOMPLETE" = "0" ] || { echo "FAIL: $INCOMPLETE ranges not COMPLETE"; exit 1; }
[ "$ORPHANS" = "0" ] || { echo "FAIL: $ORPHANS orphaned STARTED WAL rows"; exit 1; }
VALIDATION=$($MYSQL "SELECT CONCAT(diff, ' ', status) FROM migration_validation WHERE table_name = 'orders_sink'")
[ "$VALIDATION" = "0 OK" ] || { echo "FAIL: validation row '$VALIDATION', expected '0 OK'"; exit 1; }

echo "== run 2: idempotency (INSERT IGNORE must change nothing) =="
run_migrate
DST2=$($MYSQL "SELECT COUNT(*) FROM orders_sink")
[ "$DST_COUNT" = "$DST2" ] || { echo "FAIL: rerun changed sink $DST_COUNT -> $DST2"; exit 1; }

echo "PASS: $DST_COUNT rows Cassandra->MySQL, checkpoints COMPLETE, WAL clean, rerun idempotent"
