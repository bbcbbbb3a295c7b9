"""Seeded crawl benchmark for web_crawler_spark (see NOTE.md)."""
