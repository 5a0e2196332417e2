#!/usr/bin/env bash
# Per-table fingerprint of one or more output Measurement Sets.
#
#   tools/ms_table_sums.sh <out_ms>...
#
# For every table of each MS (main and every subtable directory), prints
# one line: the table name, its row count, the unrounded sum of xxhash64
# over its rows and its column order. Two outputs are bit-identical when
# every line matches. One spark-sql JVM runs per MS, not one per table.
#
# Runs $SPARK_HOME/bin/spark-sql, else spark-sql from PATH, on local[2].
set -euo pipefail
[ $# -ge 1 ] || { echo "usage: $0 <out_ms>..." >&2; exit 2; }
spark_sql="${SPARK_HOME:+$SPARK_HOME/bin/}spark-sql"
work="$(mktemp -d)"  # spark-sql leaves spark-warehouse/ in its cwd
trap 'rm -rf "$work"' EXIT

for ms in "$@"; do
  ms="$(cd "$ms" && pwd)"
  sql=""
  for dir in "$ms"/*/; do
    t="$(basename "$dir")"
    src="parquet.\`$ms/$t\`"
    sql+="SELECT '== $t'; "
    sql+="SELECT count(*), sum(cast(xxhash64(*) AS DECIMAL(38,0))) FROM $src; "
    sql+="DESCRIBE QUERY SELECT * FROM $src; "
  done
  echo "# $ms"
  out="$(cd "$work" && "$spark_sql" --master 'local[2]' \
      --conf spark.ui.enabled=false \
      --conf spark.sql.catalogImplementation=in-memory \
      -S -e "$sql" 2>"$work/stderr")" ||
    { tail -20 "$work/stderr" >&2; echo "$0: spark-sql failed on $ms" >&2; exit 1; }
  printf '%s\n' "$out" |
    awk -F'\t' '
      function flush() {
        if (t != "") printf "%s rows=%s xxhash64_sum=%s columns=%s\n", t, n, h, cols
      }
      /^== / { flush(); t = substr($0, 4); n = ""; h = ""; cols = ""; st = 1; next }
      st == 1 { n = $1; h = $2; st = 2; next }
      st == 2 && NF > 0 { c = $1; gsub(/ +$/, "", c)
                          if (c != "") cols = cols (cols == "" ? "" : ",") c }
      END { flush() }'
done
