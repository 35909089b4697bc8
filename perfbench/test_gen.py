"""Checks that the seeded corpus generator is deterministic: the same
seed gives byte-identical inputs, another seed gives different ones.

    python3 perfbench/test_gen.py

Generates small corpora into a temporary directory under .perfbench/ and
removes it afterwards; exits non-zero on a failed check.
"""
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402


def main():
    root = os.path.join(os.path.dirname(HERE), ".perfbench", "test_gen")
    shutil.rmtree(root, ignore_errors=True)
    try:
        def make(cache, seed):
            return gen.digest(gen.imdb_input(os.path.join(root, cache), seed, 40, 40))
        a, b, c = make("a", 7), make("b", 7), make("c", 8)
        same, differ = a == b, a != c
        print(f"imdb: same seed identical: {same}; other seed differs: {differ}")
        return 0 if same and differ else 1
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
