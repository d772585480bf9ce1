"""Crawl-and-extract benchmark; entry point ``perfbench/run.py``."""
