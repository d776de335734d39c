#!/usr/bin/env bash
# Real-MySQL conformance gate — run OUTSIDE the build sandbox (needs
# docker + network). Executes the UNMODIFIED production pipeline
# (MigrateMain -> JdbcTableSink/JdbcCheckpoints/Ddl with MySqlDialect:
# INSERT IGNORE, WAL ON DUPLICATE KEY UPDATE, backtick DDL) against a
# genuine MySQL 5.7 — the same image/database/credentials as the
# reference's docker-compose — then asserts, via SQL on the server:
#   1. row-count parity source vs sink (global validation, T6)
#   2. every checkpoint range COMPLETE with matching counts (K3/T5)
#   3. no orphaned STARTED WAL entries (K2)
#   4. one validation row for orders_sink with diff 0 and status OK (K4)
#   5. a SECOND full run changes nothing (INSERT IGNORE idempotency, K1)
#
# In-sandbox, the same statement text is executed against Derby through
# the MySqlEmu protocol bridge (MySqlDialectSpec) — this script is the
# deploy-time completion of that check on the real engine.
#
# Prereqs: docker compose, sbt, and the MySQL Connector/J jar on the
# runtime classpath (drop mysql-connector-j-*.jar into lib/ — sbt picks
# up unmanaged jars; DriverManager finds the driver via SPI, no code
# change needed).
#
# Usage: tools/mysql_conformance.sh [sf-dir]   (default /root/testdata/sf0.001)
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.001}"
URL="jdbc:mysql://127.0.0.1:3306/checkpoint_db?useSSL=false&allowPublicKeyRetrieval=true"
MYSQL="docker exec graft_mysql_conformance mysql -uuser -ppassword checkpoint_db -N -s -e"

ls lib/mysql-connector-j-*.jar >/dev/null 2>&1 || {
  echo "FATAL: put mysql-connector-j-*.jar into lib/ first" >&2; exit 1; }

docker compose -f tools/mysql-compose.yml up -d
trap 'docker compose -f tools/mysql-compose.yml down -v' EXIT
echo "waiting for mysql..."
for i in $(seq 1 60); do
  $MYSQL "SELECT 1" >/dev/null 2>&1 && break
  sleep 2
done
$MYSQL "SELECT 1" >/dev/null || { echo "FATAL: mysql never came up" >&2; exit 1; }

run_migrate() {
  sbt -batch "runMain graft.pipeline.MigrateMain \
    --src $SF_DIR/orders.parquet --key o_orderkey --ranges 16 \
    --rename o_orderkey=file_id \
    --jdbc-url $URL --jdbc-user user --jdbc-password password \
    --jdbc-table orders_sink --jdbc-key-cols file_id"
}

echo "== run 1: bootstrap + full migration =="
run_migrate

SRC_COUNT=$(python3 - "$SF_DIR" <<'EOF'
import sys, duckdb
print(duckdb.sql(f"SELECT count(*) FROM '{sys.argv[1]}/orders.parquet'").fetchone()[0])
EOF
)
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

echo "PASS: $DST_COUNT rows migrated, checkpoints COMPLETE, WAL clean, rerun idempotent"
