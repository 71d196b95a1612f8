"""Crawl-engine benchmark (see README.md in this directory)."""
