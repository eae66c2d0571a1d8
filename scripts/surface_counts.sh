#!/usr/bin/env bash
# Surface counts of a graft checkout: the figures every change reports
# before and after.
#
#   scripts/surface_counts.sh [repo-dir]     (default: this checkout)
#
# Prints
#   1. main-tree lines: every line of src/main/**/*.scala, test-tree
#      lines: every line of src/test/**/*.scala, and tooling lines: every
#      line of scripts/*.py and scripts/*.sh;
#   2. settable options, in three parts: the graft-mq option keys (the key
#      constants of object GraftOptions), the JVM properties (graft.*) and
#      environment variables (SPARK_*) read under src/main, each listed by
#      name, and build.sbt's SPARK_DRIVER_MEM;
#   3. unreferenced top-level names: each top-level class, object or trait
#      under src/main whose name no OTHER file under src/main (sources and
#      resources) or graftbench/src mentions. A name here is reached only by
#      its own file, the tests, or by hand (a main is marked as such): the
#      candidates for deletion.
set -euo pipefail

repo="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
cd "$repo"

main_files=$(find src/main -name '*.scala' | sort)

lines=$(cat $main_files | wc -l)
echo "main-tree lines: $lines"
test_lines=$(find src/test -name '*.scala' -exec cat {} + | wc -l)
echo "test-tree lines: $test_lines"
tool_lines=$(cat scripts/*.py scripts/*.sh 2>/dev/null | wc -l)
echo "tooling lines (scripts/*.py, scripts/*.sh): $tool_lines"

keys=$(grep -cE '^  val [A-Z][A-Za-z]* = "[a-z]+"$' src/main/scala/graft/config/GraftOptions.scala || true)
prop_names=$(grep -rhoE '"(graft\.[a-z.]+|SPARK_[A-Z0-9_]+)"' src/main --include=*.scala \
  | tr -d '"' | sort -u)
props=$(printf '%s\n' "$prop_names" | grep -c . || true)
mem=$(grep -c 'sys.env.getOrElse("SPARK_DRIVER_MEM"' build.sbt || true)
echo "settable options: $((keys + props + mem))" \
  "(graft-mq keys $keys, JVM properties and environment variables $props, build.sbt $mem)"
echo "  JVM properties and environment variables read under src/main:"
printf '%s\n' "$prop_names" | sed '/^$/d; s/^/    /'

# code lines (comment lines dropped) of the search roots that name $1 as a word
code_uses() {
  grep -rnw --include='*.scala' --include='*Register' -e "$1" $search_roots \
    | grep -vE '^[^:]+:[0-9]+:[[:space:]]*(\*|//|/\*)' || true
}

search_roots="src/main"
[ -d graftbench/src ] && search_roots="$search_roots graftbench/src"
report=""
for f in $main_files; do
  names=$(grep -oE '^((final|sealed|abstract|case|implicit|private(\[[A-Za-z]+\])?) )*(class|object|trait) [A-Za-z_][A-Za-z0-9_]*' "$f" \
    | awk '{print $NF}' | sort -u)
  for n in $names; do
    uses=$(code_uses "$n")
    # another file names it: reached
    printf '%s\n' "$uses" | cut -d: -f1 | grep -qvxF -e "$f" -e '' && continue
    if grep -qE 'def main\(' "$f"; then kind="main"
    elif printf '%s\n' "$uses" | cut -d: -f3- \
        | grep -qvE "(class|object|trait) $n([^A-Za-z0-9_]|\$)"; then kind="own-file"
    else kind="unused"
    fi
    report="$report$kind $n $f"$'\n'
  done
done
echo "top-level names under src/main that no other src/main or graftbench/src file names:"
for kind in unused own-file main; do
  hits=$(printf '%s' "$report" | awk -v k="$kind" '$1 == k {print "    " $2 "  " $3}')
  count=$(printf '%s' "$report" | awk -v k="$kind" '$1 == k' | wc -l)
  case $kind in
    unused) label="named nowhere else in their own file either" ;;
    own-file) label="used only inside their own file" ;;
    main) label="in a file with a main (run by hand or by sbt runMain)" ;;
  esac
  echo "  $kind: $count, $label"
  [ -n "$hits" ] && echo "$hits"
done
