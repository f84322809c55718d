#!/usr/bin/env python3
"""Classes a JVM loaded between two marker classes, summarized by package.

Reads a `-Xlog:class+load` file (one `[...][class,load] <name> source: ...`
line per class, any decorators) and takes the window that starts at the
first load of the `--start` class (included) and ends at the first load
of the `--end` class after it (excluded). Both markers are exact class
names; with neither given the window is the whole log. Prints:

  - the number of classes loaded in the window, of which lambda and
    other hidden classes (`$$Lambda`, `LambdaForm$`, a `/0x...` suffix)
    and Janino-generated classes (Spark's
    `org.apache.spark.sql.catalyst.expressions.GeneratedClass` and its
    nested classes);
  - one line per `--prefix` (e.g. `breeze.`): classes whose name starts
    with it;
  - the `--top` packages, truncated to `--depth` name components, by
    class count, ties by name.

A JVM writes the log with
  JAVA_TOOL_OPTIONS="-Xlog:class+load:file=/path/cl.log" <command>

Usage:
  python3 tools/classload.py LOG [--start CLASS] [--end CLASS]
      [--prefix P ...] [--depth 3] [--top 15]
  python3 tools/classload.py --selftest
"""
import argparse
import collections
import os
import re
import sys
import tempfile

LINE = re.compile(r"\[class,load\]\s+(\S+)\s+source:")
HIDDEN = re.compile(r"\$\$Lambda|LambdaForm\$|/0x[0-9a-f]+$")
JANINO = "org.apache.spark.sql.catalyst.expressions.GeneratedClass"


def loaded(lines):
    """Class names in load order."""
    return [m.group(1) for m in map(LINE.search, lines) if m]


def window(names, start=None, end=None):
    """The names from the first `start` (included) to the first `end`
    after it (excluded). A marker that never loads is an error: an empty
    or whole-log window would read as a measurement."""
    lo = 0
    if start is not None:
        if start not in names:
            raise SystemExit(f"classload: start marker {start} never loaded")
        lo = names.index(start)
    hi = len(names)
    if end is not None:
        try:
            hi = names.index(end, lo + 1)
        except ValueError:
            raise SystemExit(f"classload: end marker {end} never loaded after the start")
    return names[lo:hi]


def package(name, depth):
    """The first `depth` components of the class's package ('' for none)."""
    pkg = name.split("/")[0].rsplit(".", 1)[0] if "." in name else ""
    return ".".join(pkg.split(".")[:depth])


def summary(names, prefixes=(), depth=3, top=15):
    hidden = sum(1 for n in names if HIDDEN.search(n))
    janino = sum(1 for n in names if n.startswith(JANINO))
    out = [f"classes {len(names)}  hidden/lambda {hidden}  janino {janino}"]
    for p in prefixes:
        out.append(f"prefix {p} {sum(1 for n in names if n.startswith(p))}")
    pkgs = collections.Counter(package(n, depth) for n in names)
    for pkg, c in sorted(pkgs.items(), key=lambda kv: (-kv[1], kv[0]))[:top]:
        out.append(f"{c:7d}  {pkg or '(default package)'}")
    return "\n".join(out)


def selftest():
    log = """[0.01s][info][class,load] java.lang.Object source: shared objects file
[1.00s][info][class,load] app.Main$Span source: file:/x/
[1.01s][info][class,load] breeze.linalg.DenseMatrix source: jar:breeze.jar
[1.02s][info][class,load] breeze.linalg.svd$ source: jar:breeze.jar
[1.03s][info][class,load] org.apache.spark.ml.feature.PCA source: jar:mllib.jar
[1.04s][info][class,load] app.Main$$$Lambda$12/0x00007f0001 source: app.Main$
[1.05s][info][class,load] org.apache.spark.sql.catalyst.expressions.GeneratedClass$SpecificUnsafeProjection source: __JVM_DefineClass__
[1.06s][info][class,load] java.lang.invoke.LambdaForm$DMH/0x00007f0002 source: __JVM_LookupDefineClass__
[1.07s][info][class,load] app.Main$Refreshed$1 source: file:/x/
[1.08s][info][class,load] breeze.linalg.DenseVector source: jar:breeze.jar
[1.09s][info][class,load] app.Main$Refreshed$1 source: file:/x/
"""
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "cl.log")
        with open(p, "w") as f:
            f.write(log)
        with open(p) as f:
            names = loaded(f)
    assert len(names) == 11, names
    w = window(names, "app.Main$Span", "app.Main$Refreshed$1")
    assert w[0] == "app.Main$Span" and len(w) == 7, w
    assert window(names) == names
    assert len(window(names, "app.Main$Span")) == 10
    s = summary(w, ["breeze.", "org.apache.spark.ml."], depth=2, top=3)
    lines = s.splitlines()
    assert lines[0] == "classes 7  hidden/lambda 2  janino 1", lines[0]
    assert lines[1] == "prefix breeze. 2" and lines[2] == "prefix org.apache.spark.ml. 1", lines
    assert [l.split() for l in lines[3:]] == [["2", "app"], ["2", "breeze.linalg"],
                                              ["2", "org.apache"]], lines[3:]
    assert package("app.Main$$$Lambda$12/0x00007f0001", 2) == "app"
    assert package("Foo", 3) == ""
    for bad in (("no.Such", None), ("app.Main$Refreshed$1", "app.Main$Span")):
        try:
            window(names, *bad)
        except SystemExit:
            continue
        raise AssertionError(f"missing marker accepted: {bad}")
    print("selftest OK")


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log", nargs="?")
    ap.add_argument("--start", help="first class of the window (exact name)")
    ap.add_argument("--end", help="first class after the window (exact name)")
    ap.add_argument("--prefix", action="append", default=[])
    ap.add_argument("--depth", type=int, default=3)
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv[1:])
    if args.selftest:
        selftest()
        return 0
    if not args.log:
        ap.error("a class+load log is required")
    with open(args.log) as f:
        names = loaded(f)
    print(summary(window(names, args.start, args.end), args.prefix, args.depth, args.top))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
