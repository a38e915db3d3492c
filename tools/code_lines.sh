#!/bin/sh
# Prints the code-line count of the given .scala files and directories
# (default: src/main): every .scala line that is not blank, a // comment
# or a scaladoc/block-comment line. Relative paths are taken from the
# repo root.
# Usage: tools/code_lines.sh [file-or-dir...]
cd "$(dirname "$0")/.." || exit 1
[ $# -gt 0 ] || set -- src/main
find "$@" -name '*.scala' | xargs cat | grep -v '^\s*\*\|^\s*/\*\*\|^\s*//\|^\s*$' | wc -l
