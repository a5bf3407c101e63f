"""The crawl-to-search benchmark: ``python3 perfbench/run.py --help``."""
