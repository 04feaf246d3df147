"""Helpers imported by module name: the golden S3 corpus, Go glob
matching, the SQL table functions, report rendering and z-order."""
