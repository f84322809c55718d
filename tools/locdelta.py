#!/usr/bin/env python3
"""Added, removed and net lines of a change, split into code, comment-only and blank lines.

Reads `git diff -U0 <base> [<head>]` for each path (default `src/main`
and `src/test`) and prints one markdown table: per path and line kind,
the lines the change adds, removes and their net. Without `--head`
the diff runs against the working tree, so new files count only once
they are staged (`git add -A`), as `git diff <base>` shows them.

A line is `blank` when it holds only whitespace, `comment` when, after
its indentation, it starts a comment the file's language recognizes
(`//`, `/*`, `*`, `*/` in .scala/.java/.sbt; `#` in .py/.sh), and
`code` otherwise. The rule reads one line at a time: a block-comment
line that does not start with `*` counts as code, and a code line
with a trailing comment counts as code. Renames are diffed as a
delete plus an add, so a moved file shows its lines on both sides.

Usage:
  python3 tools/locdelta.py <base> [--head <rev>] [--paths src/main src/test]
  python3 tools/locdelta.py --selftest
"""
import argparse
import os
import re
import subprocess
import sys
import tempfile

KINDS = ("code", "comment", "blank")
COMMENT_PREFIXES = {
    ".scala": ("//", "/*", "*"), ".java": ("//", "/*", "*"), ".sbt": ("//", "/*", "*"),
    ".py": ("#",), ".sh": ("#",),
}
HUNK = re.compile(r"^@@ -\d+(?:,(\d+))? \+\d+(?:,(\d+))? @@")


def kind(path, line):
    """`code`, `comment` or `blank` for one line of `path`."""
    s = line.strip()
    if not s:
        return "blank"
    prefixes = COMMENT_PREFIXES.get(os.path.splitext(path)[1], ())
    return "comment" if s.startswith(prefixes) else "code"


def count(diff_text):
    """{kind: [added, removed]} over a `git diff -U0` text. Hunk headers
    give each hunk's line counts, so content lines that look like diff
    headers ("+++ x") are still counted.
    """
    counts = {k: [0, 0] for k in KINDS}
    path, minus, plus = None, 0, 0
    for line in diff_text.splitlines():
        if minus == 0 and plus == 0:
            if line.startswith("diff --git "):
                path = line.split(" b/", 1)[-1]
            m = HUNK.match(line)
            if m:
                minus = int(m.group(1)) if m.group(1) is not None else 1
                plus = int(m.group(2)) if m.group(2) is not None else 1
            continue
        if line.startswith("\\"):  # "\ No newline at end of file"
            continue
        if line.startswith("-") and minus > 0:
            counts[kind(path, line[1:])][1] += 1
            minus -= 1
        elif line.startswith("+") and plus > 0:
            counts[kind(path, line[1:])][0] += 1
            plus -= 1
    return counts


def git_diff(base, head, path, cwd=None):
    cmd = ["git", "diff", "-U0", "--no-color", "--no-ext-diff", "--no-renames", base]
    if head:
        cmd.append(head)
    cmd += ["--", path]
    return subprocess.run(cmd, cwd=cwd, check=True, capture_output=True,
                          text=True).stdout


def table(per_path):
    """Markdown table from [(path, {kind: [added, removed]})]."""
    lines = ["| path | lines | added | removed | net |", "|---|---|---:|---:|---:|"]
    for path, counts in per_path:
        for k in KINDS + ("total",):
            a, r = (counts[k] if k != "total" else
                    [sum(counts[x][i] for x in KINDS) for i in (0, 1)])
            lines.append(f"| {path} | {k} | +{a} | -{r} | {a - r:+d} |")
    return "\n".join(lines)


def selftest():
    assert kind("a.scala", "   * doc") == "comment"
    assert kind("a.scala", "  // note") == "comment"
    assert kind("a.scala", "  val x = 1 // note") == "code"
    assert kind("a.py", "  # note") == "comment"
    assert kind("a.py", "  x = 1") == "code"
    assert kind("a.txt", "// not a comment here") == "code"
    assert kind("a.scala", " \t ") == "blank"
    with tempfile.TemporaryDirectory() as d:
        def git(*args):
            subprocess.run(["git", *args], cwd=d, check=True, capture_output=True)
        def write(rel, text):
            os.makedirs(os.path.dirname(os.path.join(d, rel)), exist_ok=True)
            with open(os.path.join(d, rel), "w") as f:
                f.write(text)
        git("init", "-q")
        git("config", "user.email", "t@example.com")
        git("config", "user.name", "t")
        write("src/main/A.scala", "object A {\n  // old note\n  val a = 1\n\n  val b = 2\n}\n")
        write("src/main/Gone.scala", "object Gone\n")
        write("src/test/T.scala", "class T\n")
        git("add", "-A")
        git("commit", "-qm", "base")
        # one code line replaced, one comment added, one blank removed,
        # a file deleted, a new file whose content line looks like a
        # diff header, a test line added
        write("src/main/A.scala", "object A {\n  // old note\n  /** new doc */\n  val a = 10\n  val b = 2\n}\n")
        os.remove(os.path.join(d, "src/main/Gone.scala"))
        write("src/main/New.scala", "++ x\n")
        write("src/test/T.scala", "class T\nclass U\n")
        git("add", "-A")
        main_c = count(git_diff("HEAD", None, "src/main", cwd=d))
        test_c = count(git_diff("HEAD", None, "src/test", cwd=d))
    assert main_c == {"code": [2, 2], "comment": [1, 0], "blank": [0, 1]}, main_c
    assert test_c == {"code": [1, 0], "comment": [0, 0], "blank": [0, 0]}, test_c
    out = table([("src/main", main_c)]).splitlines()
    assert out[2] == "| src/main | code | +2 | -2 | +0 |", out[2]
    assert out[5] == "| src/main | total | +3 | -3 | +0 |", out[5]
    print("selftest OK")


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base", nargs="?", help="the revision the change is measured from")
    ap.add_argument("--head", help="the changed revision (default: the working tree)")
    ap.add_argument("--paths", nargs="+", default=["src/main", "src/test"])
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv[1:])
    if args.selftest:
        selftest()
        return 0
    if not args.base:
        ap.error("base revision required")
    print(table([(p, count(git_diff(args.base, args.head, p))) for p in args.paths]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
