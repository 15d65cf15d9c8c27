"""Prebuild the native HTML scanner into its cache (for executor images):

    python -m exstruct_spark.kernels.native --build

Prints the path of the cached shared object; exits 1 when it is absent.
"""

import argparse
import os
import sys

from exstruct_spark.kernels.native import build, target_path


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Build the native HTML "
                                 "scanner into its cache.")
    ap.add_argument("--build", action="store_true",
                    help="compile now (no-op when already cached)")
    args = ap.parse_args(argv)
    target = target_path()
    if args.build and not os.path.exists(target):
        build(target)
    print(target if os.path.exists(target) else "not built")
    return 0 if os.path.exists(target) else 1


if __name__ == "__main__":
    sys.exit(main())
