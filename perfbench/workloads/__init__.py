"""One module per workload; each defines `Workload`."""
